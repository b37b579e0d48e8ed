package graft.sql

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.RandomDb

/** The reference's test suite, end to end: its commerce `.det` schemas
  * (CUSTOMER/CART/CARTDETAILS/BILL) generated by the deterministic
  * RandomDB analogue, its `testcases/query1.sql`–`query10.sql` parsed
  * and planned by the mini-SQL front end, results checked against
  * independently-built DataFrame algebra. This is the lifecycle the
  * reference's demo scripts run (RandomDB → ConvertTxtToTbl →
  * QueryMain, demo/setup.sh + demo/test.sh) at the same 100-row scale.
  *
  * The fixtures under src/test/resources/reference/testcases are
  * RECONSTRUCTIONS, not the reference's own bytes: the schemas follow
  * FIXTURES.md §2 (column names, types, keys, byte sizes), the queries
  * follow the shapes of FIXTURES.md §4, and the value ranges are
  * FIXTURES.md's (gender 2, qty 50, amount 2500) and the ones this spec
  * pins (cid in [0, 200), firstname length 10). The other keys range
  * over [0, 100), so every CARTDETAILS and BILL row finds its parent
  * and each query returns rows (query10's sort sees 12 of them). */
class ReferenceTestcasesSpec extends SparkSpec {

  private val Dir = SparkSpec.resource("reference/testcases")
  private val N = 100L

  private lazy val tables: Map[String, DataFrame] =
    RandomDb.generateAll(spark, Dir,
      Map("CUSTOMER" -> N, "CART" -> N, "CARTDETAILS" -> N, "BILL" -> N))
      .map { case (k, v) => k -> v.cache() }

  private def cust = tables("CUSTOMER")
  private def cart = tables("CART")
  private def cd = tables("CARTDETAILS")
  private def bill = tables("BILL")

  private def sqlOf(n: Int): String = new String(
    Files.readAllBytes(Paths.get(s"$Dir/query$n.sql")), StandardCharsets.UTF_8)

  private def runQ(n: Int): DataFrame =
    MiniSqlPlanner.run(spark, (t: String) => tables(t), sqlOf(n))

  /** The 4-table join chain of query5/6/7/8/10, built independently. */
  private def chain = cust
    .join(cart, cust("cid") === cart("cid"))
    .join(cd, cart("cartid") === cd("cartid"))
    .join(bill, cd("iid") === bill("iid"))

  private def asSet(df: DataFrame) = df.collect().map(_.toSeq).toSet
  private def asBag(df: DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  test("generation is deterministic and honors PK uniqueness and ranges") {
    val again = RandomDb.generate(spark,
      RandomDb.loadDet("CUSTOMER", s"$Dir/CUSTOMER.det"), N)
    assert(asBag(again) == asBag(cust))
    // PK cid: unique, inside [0, 200) (CUSTOMER.det range)
    assert(cust.select("cid").distinct().count() == N)
    val mm = cust.agg(min("cid"), max("cid")).head()
    assert(mm.getInt(0) >= 0 && mm.getInt(1) < 200)
    // gender: [0, 2); strings: exactly range-length lowercase
    assert(cust.filter(col("gender") < 0 || col("gender") >= 2).count() == 0)
    assert(cust.filter(length(col("firstname")) =!= 10 ||
      !col("firstname").rlike("^[a-z]+$")).count() == 0)
    // a different seed produces different data (not a constant table)
    val other = RandomDb.generate(spark,
      RandomDb.loadDet("CUSTOMER", s"$Dir/CUSTOMER.det"), N, seed = 7L)
    assert(asBag(other) != asBag(cust))
  }

  test("query1: SELECT * FROM CUSTOMER") {
    val r = runQ(1)
    assert(r.columns.toSeq ==
      Seq("cid", "gender", "firstname", "lastname", "address"))
    assert(asBag(r) == asBag(cust))
  }

  test("query2: literal coerced by INT column type (gender=\"1\")") {
    val r = runQ(2)
    val expect = cust.filter(col("gender") === 1)
      .select("cid", "gender", "firstname")
    assert(asBag(r) == asBag(expect))
  }

  test("query3: 2-table join on the reused column name cid") {
    val r = runQ(3)
    assert(r.columns.toSeq ==
      Seq("cid", "firstname", "gender", "cartid", "status"))
    val expect = cust.join(cart, cust("cid") === cart("cid"))
      .select(cust("cid"), cust("firstname"), cust("gender"),
        cart("cartid"), cart("status"))
    assert(asBag(r) == asBag(expect))
  }

  test("query4: 3-table chain, query5: 4-table chain (SELECT *)") {
    val r4 = runQ(4)
    val e4 = cust.join(cart, cust("cid") === cart("cid"))
      .join(cd, cart("cartid") === cd("cartid"))
    assert(r4.count() == e4.count())
    assert(asBag(r4) == asBag(e4))
    val r5 = runQ(5)
    assert(r5.count() == chain.count())
    assert(asBag(r5) == asBag(chain))
  }

  test("query6/7: join chain plus range selections") {
    val filt = chain.filter(bill("amount") < 1000 && bill("amount") > 500)
    assert(asBag(runQ(6)) == asBag(filt))
    val r7 = runQ(7)
    assert(r7.columns.toSeq == Seq("gender", "amount"))
    assert(asBag(r7) == asBag(filt.select(cust("gender"), bill("amount"))))
  }

  test("query8: MAX + GROUPBY executes for real") {
    val r = runQ(8)
    assert(r.columns.toSeq == Seq("gender", "max_amount"))
    val expect = chain.filter(bill("amount") < 1000)
      .groupBy(cust("gender")).agg(max(bill("amount")).as("max_amount"))
    assert(asSet(r) == asSet(expect))
  }

  test("query9: SELECT DISTINCT") {
    val r = runQ(9)
    assert(asSet(r) == asSet(cust.select("gender").distinct()))
  }

  test("full lifecycle: generate -> text layout -> DSv2 scan -> mini-SQL") {
    // RandomDB -> ConvertTxtToTbl -> Scan -> QueryMain, distributed:
    // the generated table round-trips through the reference's on-disk
    // format and the query runs against the graft-txt V2 source
    val dir = Files.createTempDirectory("graft-refcycle").toString
    graft.sources.TextTables.write(cust, s"$dir/CUSTOMER")
    val viaTxt = graft.sources.TextTables.read(spark, s"$dir/CUSTOMER")
    assert(asBag(viaTxt) == asBag(cust))
    val r = MiniSqlPlanner.run(spark,
      (t: String) => graft.sources.TextTables.read(spark, s"$dir/$t"),
      sqlOf(2))
    assert(asBag(r) == asBag(cust.filter(col("gender") === 1)
      .select("cid", "gender", "firstname")))
  }

  test("query10: ORDERBY ascending on BILL.amount (global sort last)") {
    val r = runQ(10)
    val filt = chain.filter(bill("amount") < 1000 && bill("amount") > 500)
    assert(asBag(r) == asBag(filt))
    // BILL.amount is output column index 15 (5+4+4 cols precede BILL;
    // amount is BILL's third); the result must arrive globally sorted
    val amounts = r.collect().map(_.getInt(15)).toSeq
    assert(amounts == amounts.sorted, s"not sorted: $amounts")
  }
}
