package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Entity resolution / fuzzy record linkage without a quadratic probe.
  *
  * The candidate generator is the deletion-neighborhood ("FastSS")
  * blocking scheme, EXACT for edit distance <= 1: each record emits
  * its string plus every single-character deletion as join keys. If
  * ED(a, b) <= 1 then either a = b (identity keys match), b is a
  * deletion of a (b's identity key appears in a's deletion set), or b
  * is a single substitution of a (deleting the substituted position
  * from both yields the same key) — so every qualifying pair shares at
  * least one key, and the exact levenshtein verify on the candidate
  * set makes the output provably complete. Distance-k resolution uses
  * the same scheme with k-deletion neighborhoods (size ~ len^k per
  * record — the standard space/selectivity trade; k = 1 is the common
  * registry-dedup case shipped here).
  *
  * Scale shape: one explode (len+1 keys per record), one equi-join on
  * the key (hash-partitioned — no cross join anywhere), a distinct to
  * collapse multi-key collisions, and a codegen'd levenshtein verify.
  * Duplicate-heavy keys (a digit run deletes to the same variant) are
  * collapsed per record by array_distinct before the explode.
  * Resolution into entities composes with Dedup.connectedComponents
  * over the emitted pair set.
  */
object EntityResolution {

  /** All pairs with levenshtein(a, b) <= 1, `id_a < id_b` normalized:
    * (id_a, id_b, dist).
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    // Spread the records BEFORE the deletion-neighborhood explode and
    // materialize the neighborhood ONCE: a small entity table is one
    // scan split, so un-spread the whole O(Σ len) key generation ran as
    // a single task inside the join's broadcast-build job (Profile stages:
    // one 5.5 s task of a 6.6 s query at sf0.1), and both join sides
    // re-derived it. The id-keyed shuffle is record-sized — far smaller
    // than the exploded output it parallelizes (the sparseTopK
    // spread-before-explode discipline).
    val v = df
      .select(col(idCol).as("id"), col(strCol).as("name"))
      // explicit partition count: a keyed repartition with no count is
      // AQE-coalesced back to one partition on a small input, and the
      // checkpointed single partition then runs the entire verify join
      // as one task — defaultParallelism tracks the session's cores on
      // any deployment, so the spread is scale-adaptive, not a constant
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("id"))
      .withColumn("key", explode(array_distinct(concat(
        array(col("name")),
        expr("transform(sequence(1, length(name)), i -> " +
          "concat(substring(name, 1, i - 1), " +
          "substring(name, i + 1, length(name))))")))))
      .localCheckpoint()
    val cand = v.as("a")
      .join(v.as("b"),
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.name").as("na"),
        col("b.id").as("id_b"), col("b.name").as("nb"))
      .distinct()
    // levenshtein with a threshold early-exits the DP band at O(len·k)
    // instead of filling the O(len²) matrix — the verify runs on every
    // key-colliding candidate, so it is the hot inner loop. Threshold 1
    // only ever returns -1, 0 or 1, so the single >= 0 compare IS the
    // <= 1 filter (one kernel call in the pushed-down join condition; a
    // two-sided range pushed both compares down and evaluated the
    // kernel twice per candidate), and survivors carry their exact
    // distance — output identical to the unbounded form this replaced.
    cand
      .withColumn("dist", levenshtein(col("na"), col("nb"), 1).cast(LongType))
      .filter(col("dist") >= 0)
      .select("id_a", "id_b", "dist")
  }

  /** Golden-record survivorship merge — the step AFTER resolution:
    * collapse each entity's record history into one published record,
    * field by field, under the standard "most recent non-null wins"
    * rule. Each field survives INDEPENDENTLY: the golden name can come
    * from last week's record while the golden phone comes from last
    * year's (the newer record left it null) — which is why this is a
    * per-field argmax, not a per-record pick.
    *
    * Determinism: the winner per field is `max(struct(recency, tie,
    * value))` over the non-null records — `tieCol` must be unique per
    * record (a record id), making the order total; nulls are skipped
    * by max's null discipline, and an all-null field survives as NULL.
    *
    * Scale shape: ONE partial-aggregate groupBy on the entity key —
    * no windows, no joins, no per-field passes; `fieldCols.size`
    * max-struct aggregates ride the same shuffle. At 100 TB this is
    * the cheapest possible shape for the merge (a single key-partition
    * of the record log).
    */
  def goldenRecord(df: DataFrame, entityCol: String, recencyCol: String,
                   tieCol: String, fieldCols: Seq[String]): DataFrame = {
    require(fieldCols.nonEmpty, "need at least one survivorship field")
    val aggs = fieldCols.map { f =>
      max(when(col(f).isNotNull,
        struct(col(recencyCol).as("r"), col(tieCol).as("t"),
          col(f).as("v")))).as(s"__$f")
    } :+ count(lit(1)).as("n_records") :+
      max(col(recencyCol)).as("last_seen")
    df.groupBy(col(entityCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(entityCol) +:
        fieldCols.map(f => col(s"__$f.v").as(f)) :+
        col("n_records") :+ col("last_seen"): _*)
  }

  /** Blocked Jaro-Winkler candidate scoring — the fuzzy-match
    * complement to [[editDistancePairs]] for name-shaped fields where
    * edit distance over-penalizes transpositions and length skew
    * (the record-linkage literature's default scorer).
    *
    * Candidates come from an equi-join on caller-chosen blocking keys
    * (the standard blocking discipline: never all-pairs — at 100 TB
    * the block key IS the shuffle partition, so each block scores
    * locally and skew is bounded by the largest block, which the
    * caller controls by key choice). Scoring is the codegen'd
    * [[graft.expressions.JaroWinklerSim]]; scores publish as integer
    * micro-units (floor(jw·1e6 + 0.5)) so the gate hash is immune to
    * last-ulp double divergence between engines.
    *
    * Output: (id_a, id_b, jw_micro) with id_a < id_b, jw_micro >=
    * minMicro.
    */
  def blockedJaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
                              blockCols: Seq[String],
                              minMicro: Long): DataFrame = {
    require(blockCols.nonEmpty, "blocking keys required (never all-pairs)")
    val v = df.select(
      (col(idCol).as("id") +: col(strCol).as("name") +:
        blockCols.map(col)): _*)
    val joinCond = blockCols
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a.id") < col("b.id")
    v.as("a").join(v.as("b"), joinCond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        floor(graft.functions.Text.jaroWinkler(col("a.name"), col("b.name")) *
          lit(1000000L) + lit(0.5)).cast(LongType).as("jw_micro"))
      .filter(col("jw_micro") >= minMicro)
  }
}
