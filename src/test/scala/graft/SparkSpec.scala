package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{Collection, FsOps, GraftStore, ReadRoots, SPath}

/** Shared one-per-JVM SparkSession + temp-store helpers for all suites. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  def tempCollection(tag: String): Collection = {
    val root = Files.createTempDirectory(s"graft_test_$tag")
    GraftStore(spark, "s", root).collection("c")
  }

  def sf(name: String): DataFrame =
    spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")

  /** Deterministic 100-row daily time-series frame — mirrors the
    * reference suite's `sample_data` fixture (tests/conftest.py:40-48). */
  def sampleData: DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    (0 until 100).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i).atStartOfDay()),
        rng.nextGaussian(), rng.nextGaussian() * 100.0, Seq("A", "B", "C")(rng.nextInt(3)))
    }.toDF("index", "value1", "value2", "category")
  }

  def collect2[A, B](df: DataFrame): Seq[(A, B)] =
    df.collect().toSeq.map(r => (r.get(0).asInstanceOf[A], r.get(1).asInstanceOf[B]))

  def cleanup(c: Collection): Unit =
    c.path.parent.parent.deleteRecursively()

  /** Period dirs (`__month=<p>`) a `deleteWhere(pred)` on `item` opens
    * to find its matches — counted from the files its discovery scan
    * lists, not from plan nodes. */
  def deletePeriodsOpened(c: Collection, item: String,
                          pred: org.apache.spark.sql.Column): Set[String] =
    c.deleteScan(ReadRoots.resolve(spark, c.path.resolve(item), None), pred).inputFiles
      .flatMap(_.split('/').find(_.startsWith(Collection.MonthCol + "="))).toSet

  /** The periods of `all` a delete of `pred` over rows shaped like `df`
    * keeps: the analyzed condition translated the way the delete
    * translates it, then pruned by the read planner, for an item laid
    * out under `layout` in the session zone with index `index`. */
  def deleteCandidates(df: DataFrame, pred: org.apache.spark.sql.Column,
                       all: Seq[String], layout: String = "monthly",
                       stats: Map[String, Map[String, (Any, Any)]] = Map.empty): Seq[String] = {
    import org.json4s.JString
    val cond = df.filter(pred).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.get
    val unused = SPath.local(java.nio.file.Paths.get("unused"))
    val t = new ReadRoots.Target(spark, unused, unused, ReadRoots.PinnedPeriods(Nil),
      pinned = true, Map("_layout" -> JString(layout),
        "_layout_tz" -> JString(spark.conf.get("spark.sql.session.timeZone")),
        "schema_json_encoded" -> JString(df.schema.json)))
    ReadRoots.prunePeriods(spark, t, all, ReadRoots.conditionPreds(cond), stats)
  }
}
