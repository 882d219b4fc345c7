package perfbench

import graft.core.Norm
import graft.queries.Registry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The pruning trap: an action that times `count()` lets Catalyst drop
  * every projected column, so a benchmark would time a plan that never
  * runs the query's expressions. The plans the drain action actually
  * runs, captured by a listener, must compute every output column. */
class MaterializationGuardSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Boot.master(SparkSession.builder(), "local[2]")
    .appName("perfbench-guard")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("drain computes a derived column; a count()-shaped action fails the guard") {
    val df = spark.range(3).selectExpr("id AS doc_id", "concat('Café  Nord! ', id) AS text")
      .select(col("doc_id"), Norm.canon(col("text")).as("canon"))
    assert(Materialize.missing(df, Materialize.executed(df.sparkSession)(Materialize.drain(df))).isEmpty)
    assert(Materialize.missing(df, Materialize.executed(df.sparkSession)(df.count())) ==
      Seq("doc_id", "canon"))
    // rows carrying the column are not enough: its expression must run
    val renamed = df.select(col("doc_id"), col("doc_id").cast("string").as("canon"))
    assert(Materialize.missing(df, Materialize.executed(df.sparkSession)(Materialize.drain(renamed))) ==
      Seq("canon"))
  }

  test("every Registry query's drain computes all of its output columns") {
    val sf = sys.env.get("SPARK_GRAFT_SF_DIR")
    assume(sf.isDefined, "set SPARK_GRAFT_SF_DIR to an sf fixture directory")
    val bad = Registry.all.flatMap { q =>
      val df = q.run(spark, sf.get)
      val miss = Materialize.missing(df, Materialize.executed(df.sparkSession)(Materialize.drain(df)))
      if (miss.isEmpty) None else Some(s"${q.name}: ${miss.mkString(",")}")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
    val g1 = Registry.all.find(_.name == "g1_canon").get.run(spark, sf.get)
    assert(Materialize.missing(g1, Materialize.executed(g1.sparkSession)(g1.count())).contains("canon"))
  }
}
