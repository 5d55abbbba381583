package perfbench

import java.sql.Timestamp
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Nothing here reads a file: every payload and
  * table is a pure function of the seed, and every expected value the
  * workloads check against is computed here from the generated values,
  * independently of the engine.
  */
object Gen {

  /** One generated payroll file for an industry, with the answers the
    * engine must reproduce: fct row count, report row count (distinct
    * job titles) and the summed `total_amount`.
    */
  final case class Payroll(industry: String, header: Array[String],
                           rows: Array[Array[String]], titles: Int,
                           total: Double) {
    def nRows: Int = rows.length
  }

  val Industries: Seq[String] = Seq("corporate", "education", "hospital")

  private def cents(r: Random, lo: Int, hi: Int): Long =
    lo.toLong * 100 + r.nextInt((hi - lo) * 100)

  private def money(c: Long): String = f"${c / 100}%d.${c % 100}%02d"

  /** Dollar-formatted with thousands separators, the way the reference's
    * corporate export writes pay columns ("$61,234.56").
    */
  private def dollars(c: Long): String =
    "$" + f"${c / 100}%,d.${c % 100}%02d"

  /** A payroll file of about `bytes` CSV bytes for `industry`. */
  def payroll(industry: String, seed: Long, bytes: Long): Payroll = {
    val r = new Random(seed * 31 + industry.hashCode)
    val rows = Array.newBuilder[Array[String]]
    var written = 0L
    var total = 0.0
    val titles = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    val header = industry match {
      case "corporate" => Array("Row ID", "Year", "Department Title",
        "Job Class Title", "Employment Type", "Base Pay", "Overtime Pay",
        "Longevity Bonus Pay", "Average Benefit Cost")
      case "education" => Array("last_name", "first_name", "district",
        "school", "primary_job", "fte", "experience_total", "certificate",
        "salary")
      case "hospital" => Array("DRG Definition", "Provider Id",
        "Provider Name", "Provider City", "Provider State",
        " Total Discharges ", " Average Covered Charges ",
        " Average Total Payments ", "Average Medicare Payments")
    }
    while (written < bytes) {
      val row: Array[String] = industry match {
        case "corporate" =>
          val base = cents(r, 30000, 150000)
          val ot = if (r.nextInt(3) == 0) 0L else cents(r, 0, 40000)
          val bonus = cents(r, 0, 3000)
          val benefit = cents(r, 8000, 25000)
          total += (base + ot + bonus + benefit) / 100.0
          Array(i.toString, (2013 + r.nextInt(6)).toString,
            s"Department ${r.nextInt(40)}", s"Job Title ${r.nextInt(300)}",
            if (r.nextInt(5) == 0) "PT" else "FT", dollars(base),
            dollars(ot), dollars(bonus), dollars(benefit))
        case "education" =>
          val salary = cents(r, 40000, 110000)
          val exp = r.nextInt(36)
          val s = salary / 100.0
          total += s + (if (exp > 15) s * 0.05 else 0.0)
          Array(s"Last$i", s"First${r.nextInt(500)}",
            s"District ${r.nextInt(60)}", s"School ${r.nextInt(400)}",
            s"Teacher ${r.nextInt(120)}", Seq("1.0", "0.5", "0.8")(r.nextInt(3)),
            exp.toString, Seq("Standard", "Provisional", "CE")(r.nextInt(3)),
            money(salary))
        case "hospital" =>
          val discharges = 11 + r.nextInt(490)
          val pay = cents(r, 2000, 60000)
          total += discharges * (pay / 100.0)
          Array(s"${r.nextInt(900)} - DRG ${r.nextInt(250)}",
            (10000 + r.nextInt(5000)).toString, s"Provider ${r.nextInt(3000)}",
            s"City ${r.nextInt(800)}", Seq("CA", "NY", "TX", "FL", "WA")(r.nextInt(5)),
            discharges.toString, money(pay * 3), money(pay),
            money(pay * 4 / 5))
      }
      titles += (industry match {
        case "corporate" => row(3)
        case "education" => row(4)
        case _ => row(0)
      })
      written += row.map(_.length + 1).sum
      rows += row
      i += 1
    }
    Payroll(industry, header, rows.result(), titles.size, total)
  }

  /** Payroll rows as an all-string DataFrame, the shape a client that
    * reads the CSV as text hands to its Arrow writer.
    */
  def payrollFrame(spark: SparkSession, p: Payroll) =
    spark.createDataFrame(
      java.util.Arrays.asList(p.rows.map(a => Row.fromSeq(a.toSeq)): _*),
      StructType(p.header.map(StructField(_, StringType))))

  private val Vocab = ("a agg batch big column customer data dup fast filter " +
    "group hash join key line merge order part query row scan slow small " +
    "sort spark stream table the value vector window").split(" ")

  private def day(r: Random, from: Long, days: Int): Timestamp =
    new Timestamp(from + r.nextInt(days).toLong * 86400000L)

  /** The star-schema tables the query registry reads, written as parquet
    * under `dir/<table>.parquet`. Row counts are those of the reference
    * data at scale factor `scale / 1000` (customer, supplier, part,
    * orders, lineitem, events), with 500 documents and 500 embeddings as
    * at scale factor 0.01.
    */
  def tables(spark: SparkSession, dir: String, seed: Long, scale: Int): Unit = {
    val r = new Random(seed)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(n: String, t: DataType) = StructField(n, t)
    val d1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", StructType(Seq(f("r_regionkey", IntegerType),
      f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    write("nation", StructType(Seq(f("n_nationkey", IntegerType),
      f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
      "FURNITURE")
    val nCust = 150 * scale
    write("customer", StructType(Seq(f("c_custkey", LongType),
      f("c_name", StringType), f("c_nationkey", IntegerType),
      f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
        r.nextInt(25), cents(r, 0, 10000) / 100.0,
        segments(r.nextInt(5)))))
    val nSupp = 10 * scale
    write("supplier", StructType(Seq(f("s_suppkey", LongType),
      f("s_name", StringType), f("s_nationkey", IntegerType),
      f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d",
        r.nextInt(25), cents(r, 0, 10000) / 100.0)))
    val adjs = Seq("blue", "hot", "small", "old", "red", "new", "cold", "large")
    val nouns = Seq("bolt", "gear", "anvil", "ring", "widget", "rod", "plate",
      "gizmo")
    val types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val nPart = 200 * scale
    val prices = (0 until nPart).map(i => 900.0 + i * 0.1)
    write("part", StructType(Seq(f("p_partkey", LongType),
      f("p_name", StringType), f("p_brand", StringType),
      f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${adjs(r.nextInt(8))} ${nouns(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)),
        1 + r.nextInt(50), prices(i))))
    val nOrders = 1500 * scale
    val orderDates = Array.fill(nOrders)(day(r, d1995, 2404))
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    write("orders", StructType(Seq(f("o_orderkey", LongType),
      f("o_custkey", LongType), f("o_orderstatus", StringType),
      f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
      f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
        Seq("F", "O", "P")(r.nextInt(3)), cents(r, 1000, 500000) / 100.0,
        orderDates(i), priorities(r.nextInt(5)))))
    write("lineitem", StructType(Seq(f("l_orderkey", LongType),
      f("l_partkey", LongType), f("l_suppkey", LongType),
      f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
      f("l_tax", DoubleType), f("l_returnflag", StringType),
      f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      (0 until nOrders * 4).map { _ =>
        val o = r.nextInt(nOrders)
        val p = r.nextInt(nPart)
        val q = (1 + r.nextInt(50)).toDouble
        Row(o.toLong, p.toLong, r.nextInt(nSupp).toLong, 1 + r.nextInt(7), q,
          math.round(q * prices(p) * (1 + r.nextInt(100) / 100.0) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
          new Timestamp(orderDates(o).getTime +
            (1 + r.nextInt(121)).toLong * 86400000L))
      })
    val t2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val kinds = Seq("signup", "click", "error", "purchase", "view")
    val evTs = Array.fill(1000 * scale)(t2024 + (r.nextDouble() * 30 * 86400000L).toLong)
      .sorted
    write("events", StructType(Seq(f("event_id", LongType),
      f("ts", TimestampType), f("user_id", LongType),
      f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      evTs.indices.map(i => Row(i.toLong, new Timestamp(evTs(i)),
        r.nextInt(15 * scale).toLong, kinds(r.nextInt(5)),
        cents(r, 0, 330) / 100.0, s"""{"k": ${r.nextInt(100)}}""")))
    // one document in eight is a near-duplicate of an earlier one (a few
    // words replaced), so the dedup and similarity queries have pairs to
    // find
    val langs = Seq("en", "en", "en", "es", "zh", "de", "fr")
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until 500).foreach { i =>
      texts += (if (i > 0 && r.nextInt(8) == 0) {
        val w = texts(r.nextInt(i)).clone()
        (0 until 1 + r.nextInt(3)).foreach(_ =>
          w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length)))
        w
      } else Array.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))))
    }
    write("documents", StructType(Seq(f("doc_id", LongType),
      f("text", StringType), f("lang", StringType), f("source", StringType),
      f("n_chars", LongType))),
      texts.indices.map { i =>
        val t = texts(i).mkString(" ")
        Row(i.toLong, t, langs(r.nextInt(langs.length)),
          s"src${r.nextInt(20)}", t.length.toLong)
      })
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until 500).map(i => Row(i.toLong,
        Array.fill(64)((r.nextGaussian() * 0.12).toFloat).toSeq,
        r.nextInt(10))))
  }
}
