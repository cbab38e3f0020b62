package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan-evidence dumper for the dedup verify, whose DECLARED-query
  * top-level plan is unchanged by design (the verify is stats-adaptive
  * and keeps the classic plan at bench scale). This dumps both
  * regimes' subplans, so the diff is reproducible from code: the
  * direct two-tokenize join (small-corpus branch) vs the
  * candidate-localized single-tokenize join (big-corpus branch).
  * Usage: tools/run_main.sh graft.tools.LayoutPlans plans/r19 */
object LayoutPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r19")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name.txt"),
        df.queryExecution.explainString(FormattedMode)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"dumped $name")
    }

    // ---- dedup verify branches (dedup_minhash_lsh / dedup_simhash corpus)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    dump("dedup_verify_direct_before",
      graft.operators.Dedup.minhashLshPairs(docs, threshold = 0.8,
        localizeVerify = Some(false)))
    dump("dedup_verify_localized_after",
      graft.operators.Dedup.minhashLshPairs(docs, threshold = 0.8,
        localizeVerify = Some(true)))
    dump("simhash_verify_direct_before",
      graft.operators.Dedup.simhashPairs128(docs, radius = 15,
        verifyJaccard = Some(0.5), localizeVerify = Some(false)))
    dump("simhash_verify_localized_after",
      graft.operators.Dedup.simhashPairs128(docs, radius = 15,
        verifyJaccard = Some(0.5), localizeVerify = Some(true)))

    spark.stop()
  }
}
