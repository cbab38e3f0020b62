package graft.store.tools

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

import graft.store.{BloomIndex, Filters, SPath}

/** Diagnostic (not part of the query surface): measures the COLD
  * driver-side parse cost of the bloom index's two on-disk layouts as
  * the file count grows — the measurement that tripped the
  * sharded-sidecar trigger rule (PLANS.md) and justified implementing
  * the shard layout.
  *
  * Method: synthesize an N-file index at the DEFAULT knobs (100k
  * expected items @ 1% fpp) with near-full blooms — parse cost depends
  * on payload bytes, not on value distinctness, so one serialized
  * near-full bloom reused across all N file entries produces the same
  * documents a real N-file item would carry (a full bloom's bitset is
  * ~incompressible, so gzip doesn't shrink it and base64 grows it 4/3).
  * Each N writes through the real [[BloomIndex.writeSidecar]] and
  * cold-parses through the real planning entry point
  * ([[BloomIndex.prunedFiles]] on a fresh path = no mtime-cache hit).
  *
  * Three arms per N (10-year monthly layout, ~N/120 files per period):
  *  - single: one document, forced via singleDocMaxBytes=MaxValue —
  *    the pre-sharding layout's cost (parse of the whole document);
  *  - shard/all: sharded layout, a probe whose candidate list is the
  *    whole item (no zonemap narrowing) — parses every shard, but
  *    incrementally (many small documents dodge the giant-document GC
  *    cliff);
  *  - shard/sel: sharded layout, candidate list narrowed to TWO
  *    periods (what period/zonemap pruning feeds the bloom on a
  *    selective probe) — parses exactly two shard documents.
  *
  * Measured 2026-08 (local[32] box, Temurin 17, 24g heap; payload =
  * raw bitset MB, on-disk documents are 4/3 of it):
  * {{{
  *    files  payload_MB  single_ms  shard_all_ms  shard_sel_ms
  *      500        59.9       1223           670            12
  *     1000       119.8       1779          1409            27
  *     2000       239.6       3720          2818            52
  *     5000       599.1       8172          7066           104
  *    10000      1198.2     269931         32516           229
  * }}}
  * The single document GC-degrades catastrophically past ~1 GB (the
  * 10k row is a GC cliff, wobbling 99–270 s across runs); shards parse
  * ~linearly even unselective, and the selective probe rides the
  * probed bytes only — flat in item size, the 100 TB planning shape.
  *
  * Run: `SPARK_DRIVER_MEM=24g sbt "runMain graft.store.tools.BloomSidecarScaleProbe"`
  */
object BloomSidecarScaleProbe {
  def main(args: Array[String]): Unit = {
    val counts =
      if (args.nonEmpty) args.map(_.toInt).toSeq
      else Seq(500, 1000, 2000, 5000, 10000)

    val expected = 100000L
    val fpp = 0.01
    val bf = BloomFilter.create(expected, fpp)
    var i = 0L
    while (i < expected) { bf.putLong(i * 0x9E3779B97F4A7C15L); i += 1 }
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    val bfBytes = out.toByteArray
    val schema = StructType(Seq(StructField("k", LongType)))
    val pred = Seq(Filters.Pred("k", "==", java.lang.Long.valueOf(7L)))

    def fileKey(j: Int): String = {
      val (y, m) = (2015 + (j % 120) / 12, (j % 120) % 12 + 1)
      f"__month=$y%04d-$m%02d/part-$j%05d.parquet"
    }

    /** (coldParseMs, coldParsedMB, pruneTotalMs, kept) for one freshly
      * written layout at `dir`. */
    def coldProbe(item: SPath, candidates: Seq[String]): (Long, Double, Long, String) = {
      val t0 = System.nanoTime()
      val pruned = BloomIndex.prunedFiles(
        item, pred, schema, () => candidates, generation = 1L)
      val pruneMs = (System.nanoTime() - t0) / 1000000L
      val (parseMs, parsedBytes) =
        BloomIndex.lastParseCost(item, "k").getOrElse((-1L, -1L))
      (parseMs, parsedBytes / 1e6, pruneMs,
        pruned.map(_.size.toString).getOrElse("all"))
    }

    println(f"${"files"}%8s ${"payload_MB"}%11s ${"single_ms"}%10s " +
      f"${"shard_all_ms"}%13s ${"shard_sel_ms"}%13s")
    counts.foreach { n =>
      val files: Map[String, Array[Byte]] =
        (0 until n).map(j => fileKey(j) -> bfBytes).toMap
      val allKeys = files.keys.toSeq
      val twoPeriods = allKeys.filter(f =>
        f.startsWith("__month=2015-01/") || f.startsWith("__month=2015-02/"))

      def inTemp[A](body: SPath => A): A = {
        val dir = Files.createTempDirectory("bloomscale")
        try body(SPath.local(dir))
        finally {
          import scala.jdk.CollectionConverters._
          Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(p => Files.deleteIfExists(p))
        }
      }

      val (singleMs, payloadMb, _, _) = inTemp { item =>
        BloomIndex.writeSidecar(item, "k", 1L, fpp, expected, files,
          singleDocMaxBytes = Long.MaxValue)
        coldProbe(item, allKeys)
      }
      val (shardAllMs, _, _, _) = inTemp { item =>
        BloomIndex.writeSidecar(item, "k", 1L, fpp, expected, files,
          singleDocMaxBytes = 0L)
        coldProbe(item, allKeys)
      }
      val (shardSelMs, _, _, _) = inTemp { item =>
        BloomIndex.writeSidecar(item, "k", 1L, fpp, expected, files,
          singleDocMaxBytes = 0L)
        coldProbe(item, twoPeriods)
      }
      println(f"$n%8d $payloadMb%11.1f $singleMs%10d $shardAllMs%13d $shardSelMs%13d")
    }
  }
}
