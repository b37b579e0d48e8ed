package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{RandomDb, TextTables}

/** graft.tools.QueryMain — the reference's flagship CLI
  * (QueryMain.java + demo/test.sh) driven end to end: the four demo
  * `.sql` queries against RandomDB-generated demo tables, plan
  * display + confirm flow, single-file TSV results diffed against
  * independently-built DataFrame algebra.
  *
  * The demo fixtures under src/test/resources/reference/demo are
  * RECONSTRUCTIONS, not the reference's own bytes: the same commerce
  * `.det` schemas as ReferenceTestcasesSpec's, and `join`, `distinct`,
  * `groupby` and `orderby` queries written from the shapes in
  * FIXTURES.md §4. */
class QueryMainSpec extends SparkSpec {

  private val Demo = SparkSpec.resource("reference/demo")
  private val N = 100L

  private lazy val tables: Map[String, DataFrame] =
    RandomDb.generateAll(spark, Demo,
      Map("CUSTOMER" -> N, "CART" -> N, "CARTDETAILS" -> N, "BILL" -> N))
      .map { case (k, v) => k -> v.cache() }
  private def resolve(t: String): DataFrame = tables(t)
  private def cust = tables("CUSTOMER")
  private def cart = tables("CART")

  private def demoSql(name: String): String = new String(
    Files.readAllBytes(Paths.get(s"$Demo/$name")), StandardCharsets.UTF_8)

  private def asBag(df: DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  private def runAuto(sql: String): DataFrame =
    QueryMain.run(spark, resolve, sql, _ => true).get

  test("demo/join.sql plans, shows the cost display, and matches algebra") {
    var shown: String = null
    val df = QueryMain.run(spark, resolve, demoSql("join.sql"),
      d => { shown = d; true }).get
    assert(shown.startsWith("----------------------Execution Plan"))
    assert(shown.contains("Optimized Logical Plan"), shown.take(200))
    val expect = cust.join(cart, cust("cid") === cart("cid"))
      .select(cust("cid"), cust("firstname"), cust("gender"),
        cart("cartid"), cart("status"))
    assert(asBag(df) == asBag(expect))
  }

  test("declining the confirm aborts without executing") {
    var shown = false
    val out = QueryMain.run(spark, resolve, demoSql("join.sql"),
      _ => { shown = true; false })
    assert(shown && out.isEmpty)
  }

  test("every demo query writes a single TSV result file with header") {
    val outDir = Files.createTempDirectory("graft-qm-spec")
    Seq("join.sql", "distinct.sql", "groupby.sql", "orderby.sql")
      .foreach { q =>
        val df = runAuto(demoSql(q))
        val out = s"$outDir/${q.stripSuffix(".sql")}.out"
        QueryMain.writeResult(df, out)
        val lines = Files.readAllLines(Paths.get(out)).asScala
        assert(lines.size.toLong == df.count() + 1, s"$q line count")
        assert(lines.head == df.columns.mkString("\t"), s"$q header")
      }
  }

  test("an ORDERBY result file is actually sorted") {
    val df = runAuto(demoSql("orderby.sql"))
    val out = Files.createTempDirectory("graft-qm-ord").resolve("r.out")
    QueryMain.writeResult(df, out.toString)
    val cids = Files.readAllLines(out).asScala.drop(1)
      .map(_.split("\t")(0).toInt)
    assert(cids == cids.sorted, "result file lost the ORDERBY order")
    assert(cids.size.toLong == N)
  }

  test("the --txt lifecycle: graft-txt tables resolve through the CLI") {
    val dir = Files.createTempDirectory("graft-qm-txt").toString
    TextTables.write(cust.select(
      col("cid").cast("int"), col("gender").cast("int"),
      col("firstname"), col("lastname"), col("address")), s"$dir/CUSTOMER")
    val df = QueryMain.run(spark,
      t => TextTables.read(spark, s"$dir/$t"),
      "SELECT CUSTOMER.cid FROM CUSTOMER WHERE CUSTOMER.gender = \"1\"",
      _ => true).get
    val expect = cust.filter(col("gender") === 1).select("cid")
    assert(asBag(df) == asBag(expect))
  }
}
