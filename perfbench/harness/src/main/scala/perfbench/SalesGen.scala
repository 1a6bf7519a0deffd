package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDate
import java.util.SplittableRandom

import graft.refstar.Fixtures

/** Input generator for the star workloads. The ten small entities are
  * `Fixtures`' own files, byte for byte; `salesheader` and `salesdetail`
  * are regenerated from the seed at `scale` × the reference's 187,320
  * rows, in the same formats and with the same quirks: M/d/yy dates over
  * 2013–2014, exactly one of STOREID / CUSTOMERID / RESELLERID per
  * header (online sales carry a customer and empty store and reseller),
  * one detail line per header, and the trailing audit columns. Files go
  * where the engine looks for them: `Fixtures.root` (GRAFT_FIXTURE_DIR).
  *
  * Run standalone to write one input set:
  * `perfbench.SalesGen <seed> <scale>`.
  */
object SalesGen {

  val Entities: Seq[String] = Seq("channel", "channelcategory", "customer",
    "product", "productcategory", "producttype", "reseller", "salesdetail",
    "salesheader", "store", "targetdatachannel", "targetdataproduct")

  private val Audit = "1/2/13 9:15,etl_loader,,"
  private val Epoch = LocalDate.of(2013, 1, 1)

  def rows(scale: Double): Int = math.round(Fixtures.SalesRows * scale).toInt

  /** Write the twelve CSVs; returns their total size in bytes. */
  def generate(seed: Long, scale: Double): Long = {
    Fixtures.ensure()
    val n = rows(scale)
    val hr = new SplittableRandom(seed)
    write("salesheader",
      "SALESHEADERID,DATE,CHANNELID,STOREID,CUSTOMERID,RESELLERID," +
        "CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Iterator.range(1, n + 1).map(i => headerRow(i, hr)))
    val dr = new SplittableRandom(seed ^ 0x5DEECE66DL)
    write("salesdetail",
      "SALESDETAILID,SALESHEADERID,PRODUCTID,SALESQUANTITY,SALESAMOUNT," +
        "CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Iterator.range(1, n + 1).map(i => detailRow(i, dr)))
    Entities.map(e => new File(Fixtures.path(e)).length).sum
  }

  private def headerRow(i: Int, r: SplittableRandom): String = {
    val d = Epoch.plusDays(r.nextInt(730).toLong)
    val date = s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear % 100}"
    val ch = r.nextInt(5) + 1
    val (store, cust, res) =
      if (ch == 4) ("", Fixtures.CustomerIds(r.nextInt(3)), "")
      else if (r.nextInt(10) < 7) ((r.nextInt(6) + 1).toString, "", "")
      else ("", "", Fixtures.ResellerIds(r.nextInt(4)))
    s"$i,$date,$ch,$store,$cust,$res,$Audit"
  }

  private def detailRow(i: Int, r: SplittableRandom): String = {
    val pid = r.nextInt(20) + 1
    val qty = r.nextInt(50) + 1
    val amount = f"${qty * Fixtures.Products(pid - 1)._8}%.2f"
    s"$i,$i,$pid,$qty,$amount,$Audit"
  }

  private def write(entity: String, header: String,
                    lines: Iterator[String]): Unit = {
    val f = new File(Fixtures.path(entity))
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(f), 1 << 20)
    try {
      w.write(header); w.newLine()
      lines.foreach { l => w.write(l); w.newLine() }
    } finally w.close()
  }

  def main(args: Array[String]): Unit = {
    val bytes = generate(args(0).toLong, args(1).toDouble)
    println(s"${Fixtures.root} $bytes")
  }
}
