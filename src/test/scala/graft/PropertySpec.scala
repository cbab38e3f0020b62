package graft

import scala.util.Random

import graft.evolution.SchemaEvolution
import graft.operators.Dedup
import graft.store._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Property-style tests (seeded random cases) for the subtle semantics
  * SURVEY §7.4.3 flags: duplicate-strategy laws, evolution widening,
  * jaccard algebra. Spark-touching properties use few, larger cases —
  * each case pays JVM job overhead. */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  private def frame(rows: Seq[(Int, Double)]) =
    rows.map { case (d, v) => (d, v) }.toDF("index", "value")

  private def randomBatch(rng: Random, n: Int = 12): Seq[(Int, Double)] =
    Seq.fill(n)((rng.nextInt(20) + 1, rng.nextInt(10).toDouble)).distinct

  test("property: the commit log round-trips, skips damage, reconstructs state") {
    val rng = new Random(23)
    for (_ <- 1 to 50) {
      // random commit sequence: flat and periodic entries interleaved
      var meta = Map.empty[String, org.json4s.JValue]
      var entries = Vector.empty[History.Entry]
      val n = rng.nextInt(30) + 1
      for (g <- 1 to n) {
        val periods = Seq.fill(rng.nextInt(3))(f"2024-${rng.nextInt(12) + 1}%02d").distinct
        meta += (History.Key -> History.appended(meta, s"op$g", g.toLong, periods))
        entries :+= History.Entry(s"op$g", g.toLong, null, periods.sorted)
      }
      val back = History.entriesOf(meta)
      // roundtrip: ops, gens, and sorted periods survive render/parse
      assert(back.map(e => (e.op, e.gen, e.periods)) ==
        entries.map(e => (e.op, e.gen, e.periods)))
      // stamps are monotone non-decreasing (same-µs ties allowed)
      assert(back.sliding(2).forall {
        case Seq(a, b) => !b.at.isBefore(a.at); case _ => true })
      // state reconstruction at the END folds every period to its last
      // touching commit's gen (or the flat last gen when none touched)
      val expectPg = entries.foldLeft(Map.empty[String, Long]) { (m, e) =>
        m ++ e.periods.map(_ -> e.gen) }
      History.stateAtOrBefore(meta, java.time.Instant.now().plusSeconds(60)) match {
        case Some(Right(pg)) => assert(pg == expectPg && expectPg.nonEmpty)
        case Some(Left(g))   => assert(expectPg.isEmpty && g == n.toLong)
        case None            => fail("state must resolve after the last commit")
      }
      // damaged / foreign entries are skipped, never thrown on
      val damaged = meta + (History.Key -> org.json4s.JArray(
        org.json4s.JString("garbage") ::
          org.json4s.JObject(List("op" -> org.json4s.JString("x"))) ::
          (meta(History.Key).asInstanceOf[org.json4s.JArray].arr)))
      assert(History.entriesOf(damaged).size == back.size)
    }
  }

  test("same-tick metadata-only commits survive the spill dedupe (per-entry sequence)") {
    // metadata-only commits keep the generation unchanged, and a tight
    // loop lands many in the same wall-clock ms — identical on
    // (op, gen, at). Pre-fix the spill dedupe (meant only to absorb
    // re-eviction after a failed sidecar write) collapsed them,
    // dropping DESCRIBE HISTORY rows once the sidecar cap evicted them.
    val dir = java.nio.file.Files.createTempDirectory("graft_histseq")
    val itemPath = SPath.local(dir)
    val total = History.MaxEntries + 40 // forces 40 evictions to spill
    var meta = Map.empty[String, org.json4s.JValue]
    for (_ <- 1 to total)
      meta += (History.Key ->
        History.appendedSpilling(itemPath, meta, "set_properties", 42L, Nil))
    val sidecar = History.entriesOf(meta)
    assert(sidecar.size == History.MaxEntries)
    val full = History.fullLog(itemPath, sidecar)
    assert(full.size == total,
      s"every same-tick commit must keep its own log row, got ${full.size} of $total")
    // and the legitimate dedupe still works: a failed-sidecar-write
    // replay (the spill path re-run over the SAME prior meta) re-evicts
    // the same entry, and the open chunk absorbs the duplicate
    History.appendedSpilling(itemPath, meta, "set_properties", 42L, Nil)
    val replay = History.appendedSpilling(itemPath, meta, "set_properties", 42L, Nil)
    val full2 = History.fullLog(itemPath, History.entriesOf(
      meta + (History.Key -> replay)))
    assert(full2.size == total + 1,
      s"the re-evicted entry must dedupe, got ${full2.size}")
  }

  test("property: GraftSourceOffset json round-trips any period→gen map") {
    val rng = new Random(11)
    for (_ <- 1 to 100) {
      val n = rng.nextInt(40)
      val gens = (0 until n).map { i =>
        val key = rng.nextInt(4) match {
          case 0 => f"${2000 + rng.nextInt(30)}%04d-${rng.nextInt(12) + 1}%02d"
          case 1 => f"${2000 + rng.nextInt(30)}%04d-${rng.nextInt(12) + 1}%02d-${rng.nextInt(28) + 1}%02d"
          case 2 => s"${2000 + rng.nextInt(30)}Q${rng.nextInt(4) + 1}"
          case _ => graft.sources.GraftSourceOffset.FlatKey
        }
        key -> rng.nextLong()
      }.toMap
      val o = graft.sources.GraftSourceOffset(gens)
      val back = graft.sources.GraftSourceOffset.fromJson(o.json())
      assert(back == o, s"round-trip mismatch for $gens")
      // canonical form: equal maps serialize identically (offset equality
      // is what tells the stream "no new data")
      assert(back.json() == o.json())
    }
  }

  test("property: pq ADC kernel equals the manual lookup sum (seeded cases)") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val rng = new Random(7)
    for (_ <- 1 to 50) {
      val m = rng.nextInt(8) + 1
      val ksub = rng.nextInt(15) + 2
      val codes = Array.fill(m)(rng.nextInt(ksub))
      val lut = Array.fill(m * ksub)(rng.nextDouble() * 2 - 1)
      val expected = (0 until m).map(i => lut(i * ksub + codes(i))).sum
      val got = graft.functions.Kernels.pqAdc(
        ArrayData.toArrayData(codes), ArrayData.toArrayData(lut), ksub)
      assert(math.abs(got - expected) < 1e-12, s"m=$m ksub=$ksub")
    }
  }

  test("property: candidatePeriods is SOUND — never drops a truly-touched period") {
    // random conjunctions/disjunctions of index-range, index-equality,
    // value-range, and unboundable terms over a 6-month daily frame:
    // the months holding predicate-matching rows must ALWAYS be a
    // subset of the driver-derived candidate set (over-approximation
    // is allowed and expected; under-approximation silently
    // under-deletes, the one unforgivable outcome). The candidates come
    // through the delete's path: the analyzed condition translated to
    // source filters, then the read planner's period pruning.
    val rng = new Random(11)
    val start = java.time.LocalDate.parse("2024-01-01")
    val rows = (0 until 180).map { i =>
      (java.sql.Timestamp.valueOf(start.plusDays(i).atStartOfDay()),
        (i % 37).toDouble)
    }
    val df = rows.toDF("index", "value")
    val months = rows.map(_._1.toLocalDateTime.toLocalDate)
      .map(d => f"${d.getYear}%04d-${d.getMonthValue}%02d").distinct.sorted
    val stats: Map[String, Map[String, (Double, Double)]] = rows
      .groupBy { case (t, _) =>
        val d = t.toLocalDateTime.toLocalDate
        f"${d.getYear}%04d-${d.getMonthValue}%02d" }
      .map { case (m, rs) =>
        m -> Map("value" -> (rs.map(_._2).min, rs.map(_._2).max)) }
    def randTs() = java.sql.Timestamp.valueOf(
      start.plusDays(rng.nextInt(200) - 10).atStartOfDay())
    // the first 40 cases draw from the first seven terms; the next 40
    // add literal-on-left, null-safe equality and negated terms
    def randTerm(extended: Boolean): org.apache.spark.sql.Column =
      rng.nextInt(if (extended) 10 else 7) match {
        case 0 => col("index") >= lit(randTs())
        case 1 => col("index") < lit(randTs())
        case 2 => col("index") === lit(randTs())
        case 3 => col("value") >= lit(rng.nextInt(40).toDouble)
        case 4 => col("value") < lit(rng.nextInt(40).toDouble)
        case 5 => dayofmonth(col("index")) === lit(rng.nextInt(28) + 1) // unboundable
        case 6 => col("index").isin(randTs(), randTs())
        case 7 => if (rng.nextBoolean()) lit(randTs()) > col("index")
                  else lit(rng.nextInt(40).toDouble) <= col("value")
        case 8 => if (rng.nextBoolean()) col("index") <=> lit(randTs())
                  else lit(rng.nextInt(40).toDouble) <=> col("value")
        case 9 => !randTerm(extended)
      }
    def randPred(depth: Int, extended: Boolean): org.apache.spark.sql.Column =
      if (depth == 0) randTerm(extended)
      else if (rng.nextBoolean()) randPred(depth - 1, extended) && randPred(depth - 1, extended)
      else randPred(depth - 1, extended) || randPred(depth - 1, extended) // must force full widening
    for (i <- 1 to 80) {
      val pred = randPred(rng.nextInt(3), extended = i > 40)
      val cands = deleteCandidates(df, pred, months, stats = stats).toSet
      val touched = df.filter(pred)
        .select(date_format(col("index"), "yyyy-MM")).distinct()
        .as[String].collect().toSet
      assert(touched.subsetOf(cands),
        s"case $i UNSOUND: pred=$pred touched=$touched cands=$cands")
    }
  }

  test("property: deleteWhere on an indexed monthly item is exact against a plain Spark filter") {
    // a monthly item with a bloom index (key), a zonemap (seq) and
    // declared stats (value): every delete discovers through the read
    // planner — period interval, stats and both skip indexes — so each
    // of 8 random predicates must remove exactly the rows a plain
    // filter over the modelled rows selects, and leave the rest
    val rng = new Random(29)
    val start = java.time.LocalDate.parse("2024-01-01")
    val rows = (0 until 180).map { i =>
      (java.sql.Timestamp.valueOf(start.plusDays(i).atStartOfDay()),
        s"k_${i % 45}", i.toLong, (i % 37).toDouble)
    }
    val c = tempCollection("prop_delete_exact")
    c.write("item", rows.toDF("index", "key", "seq", "value"), monthlyLayout = true,
      statsColumns = Seq("value"))
    c.buildBloomIndex("item", Seq("key"))
    c.buildFileStatsIndex("item", Seq("seq"))
    def randTs() = lit(java.sql.Timestamp.valueOf(
      start.plusDays(rng.nextInt(200) - 10).atStartOfDay()))
    def randKey() = lit(s"k_${rng.nextInt(50)}")
    def randTerm(): org.apache.spark.sql.Column = rng.nextInt(10) match {
      case 0 => col("index") >= randTs()
      case 1 => col("index") < randTs()
      case 2 => col("key") === randKey()
      case 3 => col("key").isin(s"k_${rng.nextInt(50)}", s"k_${rng.nextInt(50)}")
      case 4 => col("seq") >= lit(rng.nextInt(190).toLong)
      case 5 => col("value") < lit(rng.nextInt(40).toDouble)
      case 6 => randTs() > col("index") // literal on the left
      case 7 => col("key") <=> randKey()
      case 8 => !(col("seq") < lit(rng.nextInt(190).toLong))
      case 9 => dayofmonth(col("index")) === lit(rng.nextInt(28) + 1) // unboundable
    }
    def randPred(depth: Int): org.apache.spark.sql.Column =
      if (depth == 0) randTerm()
      else if (rng.nextBoolean()) randPred(depth - 1) && randPred(depth - 1)
      else randPred(depth - 1) || randPred(depth - 1)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("index", "key", "seq", "value")
        .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    var model = asSet(rows.toDF("index", "key", "seq", "value"))
    for (i <- 1 to 8) {
      val pred = randPred(rng.nextInt(3))
      val current = model.toSeq.toDF("index", "key", "seq", "value")
      val want = current.filter(pred).count()
      model = asSet(current.filter(!pred))
      assert(c.deleteWhere("item", pred) == want, s"case $i: pred=$pred")
      assert(asSet(c.item("item").data) == model, s"case $i: pred=$pred")
    }
    cleanup(c)
  }

  test("property: interleave_bits is a bijection — deinterleave recovers every rank") {
    val rng = new Random(7)
    val cases = Seq.fill(40)((rng.nextInt(1 << 16).toLong, rng.nextInt(1 << 16).toLong)) ++
      Seq((0L, 0L), (65535L, 65535L), (0L, 65535L), (65535L, 0L))
    val zs = cases.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.functions.expressions.interleave_bits(array(col("a"), col("b")), 16).as("z"))
      .collect()
    for (r <- zs) {
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      // deinterleave: even bit positions rebuild a, odd rebuild b
      var (ra, rb) = (0L, 0L)
      for (i <- 0 until 16) {
        ra |= ((z >>> (2 * i)) & 1L) << i
        rb |= ((z >>> (2 * i + 1)) & 1L) << i
      }
      assert(ra == a && rb == b, s"z=$z did not round-trip ($a,$b) got ($ra,$rb)")
    }
    // monotone locality: z of equal points is equal, and flipping the
    // highest bit of either dim moves z by more than flipping the lowest
    val hi = graft.functions.Kernels
    import org.apache.spark.sql.catalyst.util.ArrayData
    def zOf(a: Long, b: Long): Long =
      hi.interleaveBits(ArrayData.toArrayData(Array(a, b)), 16)
    assert(zOf(1L << 15, 0) > zOf(1L, 0) && zOf(0, 1L << 15) > zOf(0, 1L))
  }

  test("property: hammingPairs equals brute force at every radius (seeded hashes)") {
    import graft.operators.Dedup
    val rng = new Random(11)
    // clustered hashes: seeds + small perturbations, so every radius
    // class is populated (uniform 64-bit hashes would never collide)
    val seeds = Seq.fill(6)(rng.nextLong())
    val hashes = seeds.zipWithIndex.flatMap { case (s, i) =>
      (0 until 5).map { k =>
        var h = s
        (0 until rng.nextInt(5)).foreach(_ => h ^= 1L << rng.nextInt(64))
        (i * 10L + k, h)
      }
    }
    val df = hashes.toDF("id", "h")
    for (radius <- 0 to 3) {
      val got = Dedup.hammingPairs(df, radius)
        .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
      val expected = (for {
        (a, ha) <- hashes; (b, hb) <- hashes if a < b
        d = java.lang.Long.bitCount(ha ^ hb) if d <= radius
      } yield (a, b, d.toLong)).toSet
      assert(got == expected,
        s"radius $radius: missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    }
  }

  test("property: editDistancePairs equals brute-force levenshtein (seeded strings)") {
    import graft.operators.Dedup
    val rng = new Random(13)
    val alphabet = "abcd" // small alphabet -> plenty of near pairs
    def randStr(n: Int): String =
      (0 until n).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j =>
        if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    // base strings + mutated neighbors (insert/delete/substitute chains)
    val base = Seq.fill(8)(randStr(rng.nextInt(8) + 6))
    val strs = base.zipWithIndex.flatMap { case (s, i) =>
      val muts = (0 until 3).map { k =>
        var t = s
        (0 to rng.nextInt(3)).foreach { _ =>
          val p = rng.nextInt(t.length)
          rng.nextInt(3) match {
            case 0 => t = t.take(p) + alphabet(rng.nextInt(4)) + t.drop(p) // insert
            case 1 if t.length > 4 => t = t.take(p) + t.drop(p + 1)        // delete
            case _ => t = t.updated(p, alphabet(rng.nextInt(4)))           // substitute
          }
        }
        (i * 10L + k + 1, t)
      }
      Seq((i * 10L, s)) ++ muts
    }
    val df = strs.toDF("id", "text")
    for (d <- 1 to 3) {
      val got = Dedup.editDistancePairs(df, maxDist = d)
        .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSet
      val expected = (for {
        (a, sa) <- strs; (b, sb) <- strs
        if a < b && sa.length > d && sb.length > d
        dist = lev(sa, sb) if dist <= d
      } yield (a, b, dist.toLong)).toSet
      assert(got == expected,
        s"maxDist $d: missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    }
  }

  test("property: line dedup is identity on corpora with globally unique lines") {
    val rng = new Random(11)
    // every line carries its (doc, pos) baked in -> globally unique
    val docs = (0 until 25).map { d =>
      val n = rng.nextInt(4) + 1
      (d.toLong, (0 until n).map(p => s"doc$d line$p word${rng.nextInt(9)}").mkString(". "))
    }
    val out = Dedup.lineDedup(docs.toDF("doc_id", "text"))
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    for ((id, text) <- docs)
      assert(out(id) == text, s"doc $id not identity: '${out(id)}' vs '$text'")
  }

  test("property: LM nll is non-negative and zero exactly for bigram-free docs") {
    import graft.operators.LanguageModel
    val rng = new Random(13)
    val vocab = Vector("ws", "xq", "yr", "zt", "vu")
    val corpus = (0 until 30).map { i =>
      (i.toLong, Seq.fill(rng.nextInt(8) + 2)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val lm = LanguageModel.buildBigramLm(corpus)
    val probes = ((0 until 10).map { i =>
      (100L + i, Seq.fill(rng.nextInt(6) + 2)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    } :+ (200L, "solo")).toDF("doc_id", "text")
    val out = LanguageModel.scoreDocs(lm, probes).collect()
    for (r <- out) {
      val (id, n, nll) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      // p <= 1 always => every ln term <= 0 => nll >= 0; no-bigram docs
      // take the documented 0 sentinel
      assert(nll >= 0.0, s"doc $id nll=$nll")
      if (id == 200L) assert(n == 0L && nll == 0.0)
      else assert(n > 0L)
    }
  }

  test("property: token chunks cover every token exactly when stride <= size") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val rng = new Random(17)
    for (_ <- 1 to 60) {
      val n = rng.nextInt(50) + 1
      val size = rng.nextInt(12) + 1
      val stride = rng.nextInt(size) + 1 // stride <= size
      val toks = Array.tabulate(n)(i => s"t$i")
      val out = graft.functions.Kernels.tokenChunks(
        ArrayData.toArrayData(toks.map(UTF8String.fromString)), size, stride)
      val chunks = (0 until out.numElements()).map(out.getUTF8String(_).toString)
      // count formula
      val expect = if (n <= size) 1 else (n - size + stride - 1) / stride + 1
      assert(chunks.length == expect, s"n=$n size=$size stride=$stride")
      // coverage: every token appears in at least one chunk; order kept
      val covered = chunks.flatMap(_.split(" ")).toSet
      assert(covered == toks.toSet, s"n=$n size=$size stride=$stride missing=${toks.toSet -- covered}")
      // no chunk is a strict subrange of its predecessor (stop-at-end)
      assert(chunks.last.split(" ").last == s"t${n - 1}")
    }
  }

  test("property: ohlc equals brute-force per-bucket computation (seeded)") {
    import graft.operators.TimeSeries
    val rng = new Random(23)
    val rows = (0 until 200).map { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-01 ${rng.nextInt(6)}%02d:${rng.nextInt(60)}%02d:00"),
        rng.nextInt(1000).toDouble / 10.0)
    }
    val df = rows.toDF("event_id", "ts", "value")
    val got = TimeSeries.ohlc(df, 3600).orderBy($"bucket_start_s").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))
      .toMap
    val brute = rows.groupBy { case (_, ts, _) => ts.getTime / 1000 / 3600 * 3600 }
      .map { case (b, rs) =>
        val sorted = rs.sortBy { case (id, ts, _) => (ts.getTime, id) }
        b -> (sorted.head._3, rs.map(_._3).max, rs.map(_._3).min, sorted.last._3, rs.size.toLong)
      }
    assert(got == brute, s"only-spark=${got.keySet -- brute.keySet} only-brute=${brute.keySet -- got.keySet}")
  }

  test("property: append keep_last is idempotent (re-appending the same batch is a no-op)") {
    for (seed <- 1 to 5) {
      val rng = new Random(seed)
      val c = tempCollection(s"prop_idem_$seed")
      val batch = frame(randomBatch(rng))
      c.write("it", frame(Seq((0, 1.0))))
      c.append("it", batch, DuplicateHandling.KeepLast)
      val once = c.item("it").data.orderBy("index", "value").collect().toSeq
      c.append("it", batch, DuplicateHandling.KeepLast)
      val twice = c.item("it").data.orderBy("index", "value").collect().toSeq
      assert(once == twice, s"seed=$seed")
      cleanup(c)
    }
  }

  test("property: both strategies cover exactly old ∪ new index sets") {
    for (seed <- 10 to 12) {
      val rng = new Random(seed)
      val oldRows = randomBatch(rng)
      val newRows = randomBatch(rng)
      val cL = tempCollection(s"prop_last_$seed")
      val cF = tempCollection(s"prop_first_$seed")
      cL.write("it", frame(oldRows)); cL.append("it", frame(newRows), DuplicateHandling.KeepLast)
      cF.write("it", frame(oldRows)); cF.append("it", frame(newRows), DuplicateHandling.KeepFirst)
      val expectIdx = (oldRows.map(_._1) ++ newRows.map(_._1)).toSet
      val lIdx = cL.item("it").data.select("index").as[Int].collect().toSet
      val fIdx = cF.item("it").data.select("index").as[Int].collect().toSet
      assert(lIdx == expectIdx && fIdx == expectIdx, s"seed=$seed")
      cleanup(cL); cleanup(cF)
    }
  }

  test("property: evolution widening is reflexive, one-way on distinct numerics, transitive") {
    val numerics = Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
    for (a <- numerics) assert(SchemaEvolution.canWiden(a, a))
    for (a <- numerics; b <- numerics if a != b)
      assert(!(SchemaEvolution.canWiden(a, b) && SchemaEvolution.canWiden(b, a)),
        s"widening must be one-way: $a vs $b")
    for {
      a <- numerics; b <- numerics; c <- numerics
      if SchemaEvolution.canWiden(a, b) && SchemaEvolution.canWiden(b, c)
    } assert(SchemaEvolution.canWiden(a, c), s"transitivity: $a->$b->$c")
  }

  test("property: jaccard symmetric, bounded, 1.0 on identical texts") {
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps")
    for (seed <- 20 to 24) {
      val rng = new Random(seed)
      def text() = Seq.fill(8)(vocab(rng.nextInt(vocab.size))).mkString(" ")
      val (t1, t2) = (text(), if (seed % 2 == 0) text() else text())
      val r = Seq((t1, t2)).toDF("a", "b").select(
        Dedup.jaccard(Dedup.shingles(col("a")), Dedup.shingles(col("b"))).as("ab"),
        Dedup.jaccard(Dedup.shingles(col("b")), Dedup.shingles(col("a"))).as("ba")).head()
      val (ab, ba) = (r.getDouble(0), r.getDouble(1))
      assert(ab == ba && ab >= 0.0 && ab <= 1.0, s"seed=$seed")
      val same = Seq((t1, t1)).toDF("a", "b").select(
        Dedup.jaccard(Dedup.shingles(col("a")), Dedup.shingles(col("b")))).head().getDouble(0)
      assert(same == 1.0)
    }
  }

  test("property: strategy row counts obey keep_all >= keep_last = keep_first") {
    for (seed <- 30 to 32) {
      val rng = new Random(seed)
      val rows = randomBatch(rng)
      val base = frame(rows)
      val over = frame(rows.map { case (d, v) => (d, v + 1.0) })
      def count(h: DuplicateHandling, tag: String): Long = {
        val c = tempCollection(s"prop_counts_${seed}_$tag")
        c.write("it", base)
        c.append("it", over, h)
        val n = c.item("it").data.count()
        cleanup(c); n
      }
      val all = count(DuplicateHandling.KeepAll, "all")
      val last = count(DuplicateHandling.KeepLast, "last")
      val first = count(DuplicateHandling.KeepFirst, "first")
      assert(last == first, s"seed=$seed: symmetric strategies keep one row per index here")
      assert(all >= last, s"seed=$seed")
    }
  }

  test("property: evicted log entries spill in order; sidecar stays capped; chunks seal at 256") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spill")
    val itemPath = SPath.local(dir)
    var meta = Map.empty[String, org.json4s.JValue]
    val total = 600
    for (g <- 1 to total)
      meta += (History.Key -> History.appendedSpilling(
        itemPath, meta, s"op$g", g.toLong, Nil))
    val sidecar = History.entriesOf(meta)
    assert(sidecar.size == History.MaxEntries)
    assert(sidecar.head.gen == (total - History.MaxEntries + 1).toLong)
    val spilled = History.spilledEntries(itemPath)
    // the spill holds exactly the evicted prefix, oldest first —
    // spill ++ sidecar is the COMPLETE log
    assert(spilled.map(_.gen) == (1L to (total - History.MaxEntries).toLong))
    assert((spilled ++ sidecar).map(_.gen) == (1L to total.toLong))
    // sealed chunks hold exactly SpillChunkEntries; only the last is open
    val chunks = itemPath.fs.listFiles(itemPath.resolve(History.SpillDir).raw).sorted
    assert(chunks.size == 2) // 344 evicted → 256 + 88
    FsOps.deleteRecursively(dir)
  }

  test("property: timestamp travel past the sidecar horizon resolves from the spill (300+ commits)") {
    val c = tempCollection("spill_travel")
    c.write("it", frame(Seq(1 -> 1.0, 2 -> 2.0)), indexCols = Seq("index"))
    Thread.sleep(5)
    val t1 = java.time.Instant.now() // inside the write's window
    Thread.sleep(5)
    c.createSnapshot(Some("m1"), manifest = Some(true)) // pins the write gen
    c.append("it", frame(Seq(3 -> 3.0)))                // rewrite ends the window
    // 300 cheap metadata-only commits push the write entry out of the
    // capped sidecar and into the spill
    for (i <- 1 to 300) c.setItemProperties("it", Map("k" -> s"v$i"))
    val sidecar = History.entriesOf(Meta.read(c.path.resolve("it")))
    assert(sidecar.size <= History.MaxEntries)
    assert(sidecar.head.at.isAfter(t1),
      "precondition: the sidecar window must start after t1")
    assert(History.spilledEntries(c.path.resolve("it")).nonEmpty)
    // resolution anchored BEFORE the sidecar window still lands exactly
    assert(Snapshots.resolveAsOf(c.path, "it", t1) ==
      Snapshots.AsOfSnapshot("m1"))
    // and travel at NOW still serves live (spill untouched on this path)
    assert(Snapshots.resolveAsOf(c.path, "it", java.time.Instant.now()) ==
      Snapshots.AsOfLive)
    cleanup(c)
  }

  test("property: travel inside the sidecar window resolves when the generation's origin was evicted") {
    // write g1 → manifest → 300 metadata-only mutations (every surviving
    // sidecar entry still carries g1, but g1's ORIGIN write entry is
    // evicted to the spill) → append g2. An instant AFTER the churn but
    // BEFORE the append sits inside the sidecar window, yet the window
    // START of g1 predates the sidecar — resolution must consult the
    // spill for it, or the valid pre-churn manifest is spuriously
    // excluded (round-11 advice).
    val c = tempCollection("spill_window_start")
    c.write("it", frame(Seq(1 -> 1.0, 2 -> 2.0)), indexCols = Seq("index"))
    Thread.sleep(5)
    c.createSnapshot(Some("m1"), manifest = Some(true)) // pins g1
    for (i <- 1 to 300) c.setItemProperties("it", Map("k" -> s"v$i"))
    Thread.sleep(5)
    val t = java.time.Instant.now() // inside the sidecar window, state g1
    Thread.sleep(5)
    c.append("it", frame(Seq(3 -> 3.0))) // g2 rewrites; g1 needs m1
    val sidecar = History.entriesOf(Meta.read(c.path.resolve("it")))
    assert(!sidecar.head.at.isAfter(t),
      "precondition: t must sit INSIDE the sidecar window")
    assert(History.spilledEntries(c.path.resolve("it")).exists(_.op == "write"),
      "precondition: g1's origin write entry must have been evicted")
    assert(Snapshots.resolveAsOf(c.path, "it", t) == Snapshots.AsOfSnapshot("m1"))
    cleanup(c)
  }

  test("property: SQL $history serves the full horizon past the sidecar cap (spill merged)") {
    val c = tempCollection("spill_sql_history")
    c.write("it", frame(Seq(1 -> 1.0)), indexCols = Seq("index"))
    for (i <- 1 to 300) c.setItemProperties("it", Map("k" -> s"v$i"))
    assert(History.entriesOf(Meta.read(c.path.resolve("it"))).size == History.MaxEntries)
    spark.conf.set("spark.sql.catalog.spillcat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spillcat.root", c.path.parent.toString)
    val n = spark.sql("SELECT count(*) FROM spillcat.c.`it$history`").head().getLong(0)
    assert(n == 301L, s"DESCRIBE HISTORY must not truncate at the cap: got $n of 301")
    cleanup(c)
  }

  test("property: deep travel reads only the chunks its window touches (1000+ commits)") {
    // chunk names carry their first entry's stamp, so an at-or-before
    // read prunes by NAME: travel to an early instant over a deep
    // archive must open the one or two chunks around that instant,
    // never the whole ~N/256-file spill — and the pruned prefix must
    // be byte-identical to the unpruned read's ≤t slice.
    val dir = java.nio.file.Files.createTempDirectory("graft_chunkprune")
    val itemPath = SPath.local(dir)
    var meta = Map.empty[String, org.json4s.JValue]
    var tEarly: java.time.Instant = null
    val total = 1300 // 4 sealed chunks + the open one + the capped sidecar
    for (g <- 1 to total) {
      meta += (History.Key -> History.appendedSpilling(itemPath, meta,
        "append", g.toLong, Seq(f"2024-${(g % 12) + 1}%02d")))
      // a real ms gap around the probe instant so chunk boundaries
      // after it carry strictly-later name stamps
      if (g == 120) { Thread.sleep(3); tEarly = java.time.Instant.now(); Thread.sleep(3) }
    }
    val sidecar = History.entriesOf(meta)
    assert(sidecar.size == History.MaxEntries)
    assert(History.spilledEntries(itemPath).size == total - History.MaxEntries)
    var reads = 0
    History.chunkReadHook = _ => reads += 1
    val pruned = try History.fullLogUpTo(itemPath, sidecar, tEarly)
      finally History.chunkReadHook = _ => ()
    assert(reads <= 2, s"early travel must read <=2 chunks, read $reads")
    val full = History.fullLog(itemPath, sidecar)
    assert(pruned.filter(!_.at.isAfter(tEarly)) == full.filter(!_.at.isAfter(tEarly)),
      "the pruned prefix must equal the unpruned read's <=t slice")
    assert(pruned.filter(!_.at.isAfter(tEarly)).map(_.gen) == (1L to 120L),
      "every commit at or before the instant must be present")
    // the deep CDC state fold over the pruned prefix matches brute force
    val expect = full.filter(!_.at.isAfter(tEarly))
      .foldLeft(Map.empty[String, Long])((m, e) => m ++ e.periods.map(_ -> e.gen))
    assert(History.stateAtOrBeforeFull(itemPath, meta, tEarly) == Some(Right(expect)))
    // the window-end forward scan stops at the first post-t commit
    // (generations are all distinct here — the very next entry ends it)
    History.chunkReadHook = _ => reads += 1
    reads = 0
    val end = try History.firstSpilledAfterWithOtherGen(itemPath, tEarly, 120L)
      finally History.chunkReadHook = _ => ()
    assert(end.exists(_.gen == 121L), s"window end must be the next commit, got $end")
    assert(reads <= 2, s"the forward scan must stop at its first hit, read $reads chunks")
  }

  test("property: re-spilling the same evicted entries is idempotent (failed sidecar write replay)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_respill")
    val itemPath = SPath.local(dir)
    var meta = Map.empty[String, org.json4s.JValue]
    var metas = Vector(meta)
    for (g <- 1 to History.MaxEntries + 1) {
      meta += (History.Key -> History.appendedSpilling(itemPath, meta, s"op$g", g.toLong, Nil))
      metas :+= meta
    }
    assert(History.spilledEntries(itemPath).map(_.gen) == Seq(1L))
    // a commit whose spill succeeded but whose sidecar write failed
    // replays over the PRIOR meta: the same gen-1 entry evicts again
    History.appendedSpilling(itemPath, metas(History.MaxEntries),
      "retry", (History.MaxEntries + 2).toLong, Nil)
    assert(History.spilledEntries(itemPath).map(_.gen) == Seq(1L),
      "the re-evicted entry must not duplicate in the spill")
    // the NEXT eviction (gen 2) still lands after the dedupe
    History.appendedSpilling(itemPath, metas(History.MaxEntries + 1),
      "next", (History.MaxEntries + 3).toLong, Nil)
    assert(History.spilledEntries(itemPath).map(_.gen) == Seq(1L, 2L))
    FsOps.deleteRecursively(dir)
  }

  test("property: concurrent per-item DDL serializes — drops and property writes never clobber each other") {
    import spark.implicits._
    val c = tempCollection("ddl_race")
    val cols = (0 to 10).map(i => s"c$i")
    val base = (1 to 20).toDF("index")
    val wide = cols.foldLeft(base.withColumn("value", col("index").cast("double"))) {
      (d, cn) => d.withColumn(cn, col("index").cast("long"))
    }
    c.write("it", wide, indexCols = Seq("index"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (1 to 4).map { w =>
      new Thread(() => try {
        for (i <- 1 to 25) c.setItemProperties("it", Map(s"w${w}_k$i" -> s"v$i"))
      } catch { case e: Throwable => errs.add(e) })
    }
    val dropper = new Thread(() => try {
      for (i <- 1 to 10) c.dropColumns("it", Seq(s"c$i"))
    } catch { case e: Throwable => errs.add(e) })
    (writers :+ dropper).foreach(_.start())
    (writers :+ dropper).foreach(_.join())
    assert(errs.isEmpty, s"concurrent DDL threw: ${Option(errs.peek()).map(_.getMessage)}")
    val meta = Meta.read(c.path.resolve("it"))
    val mask = Collection.droppedColsOf(meta)
    assert((1 to 10).forall(i => mask.contains(s"c$i")),
      s"every drop must survive the interleaved property writes, mask=$mask")
    val served = c.item("it").data.columns.toSet
    assert((1 to 10).forall(i => !served.contains(s"c$i")))
    for (w <- 1 to 4; i <- 1 to 25)
      assert(meta.contains(s"w${w}_k$i"), s"property w${w}_k$i was clobbered")
    cleanup(c)
  }

  test("property: journal names accept item dirs and periods, refuse traversal and reserved shapes") {
    val ok = Seq("it", "my.item", "a_b-c", "2024-01", "2024-Q1", "lineitem")
    val bad = Seq("", ".", "..", "a/b", "a\\b", "../x", "__tmp_x", "__backup_y")
    ok.foreach(n => assert(Collection.plainIntentName(n), n))
    bad.foreach(n => assert(!Collection.plainIntentName(n), n))
  }

  test("property: synthesized default index is dense 0..n-1 and collides on re-append") {
    val c = tempCollection("prop_rangeidx")
    val df = (1 to 57).map(i => (s"r$i", i * 2.0)).toDF("name", "v")
    c.write("it", df.repartition(5))
    val ids = c.item("it").data.select("index").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 57L), s"ids not dense: $ids")
    // a second default-indexed frame restarts at 0 -> ids collide,
    // KeepLast replaces the stored rows (pandas RangeIndex semantics)
    c.append("it", (1 to 10).map(i => (s"x$i", i * 1.0)).toDF("name", "v"))
    val after = c.item("it").data
    assert(after.count() == 57)
    assert(after.filter($"name".startsWith("x")).count() == 10)
    cleanup(c)
  }

  test("property: Partitioner.layout keeps the rows in sorted files, range-disjoint and ascending, for every index dtype") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.expressions.Window
    val rng = new Random(97)
    def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
    val t0 = java.time.LocalDateTime.of(2024, 3, 10, 0, 0) // a New York DST gap
    val nines = new java.math.BigDecimal("9" * 38)
    // small domains: every frame has ties
    val gens: Seq[(DataType, () => Any)] = Seq(
      IntegerType -> (() => Int.box(rng.nextInt(41) - 20)),
      LongType -> (() => Long.box(pick(IndexedSeq(Long.MinValue, Long.MaxValue,
        rng.nextInt(60) * 1000003L - 30000000L)))),
      DoubleType -> (() => Double.box(pick(IndexedSeq(Double.NaN, -0.0, 0.0,
        Double.NegativeInfinity, Double.PositiveInfinity, Double.MinPositiveValue,
        rng.nextInt(40) / 4.0 - 5.0)))),
      DecimalType(38, 0) -> (() => pick(IndexedSeq(nines, nines.negate,
        java.math.BigDecimal.valueOf(rng.nextInt(50) - 25L).scaleByPowerOfTen(rng.nextInt(30))))),
      StringType -> (() => pick(IndexedSeq("", "a", "ab", "a\u0000", "b", "z", "é", "éa",
        "日本", "日本語", "Ω", "\uD83D\uDE00", "prefix__", "prefix__a", "prefix__b",
        "prefix__ab", "PREFIX__"))),
      DateType -> (() => java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(rng.nextInt(80) * 5L - 200))),
      TimestampType -> (() => java.sql.Timestamp.valueOf(t0.plusMinutes(rng.nextInt(90) * 7L - 300))),
      TimestampNTZType -> (() => t0.plusMinutes(rng.nextInt(90) * 7L - 300)))
    def frame(dts: Seq[DataType], gen: Seq[() => Any], rows: Int): DataFrame = {
      val schema = StructType(dts.zipWithIndex.map { case (dt, i) => StructField(s"k$i", dt) } :+
        StructField("id", LongType, nullable = false))
      val data = (0 until rows).map { id =>
        Row.fromSeq(gen.map(g => if (rng.nextInt(10) == 0) null else g()) :+ id.toLong)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
    }
    def check(df: DataFrame, n: Int): Unit = {
      val idx = df.columns.filter(_ != "id").toSeq
      val tag = s"${df.schema(idx.head).dataType.simpleString} × ${idx.size}, n = $n"
      val out = Partitioner.layout(df, idx, n, Partitioner.planFlat(df, idx.head, n).cuts)
        .withColumn("p", spark_partition_id()).withColumn("j", monotonically_increasing_id())
        .localCheckpoint(true)
      // the row multiset is preserved (values compared as the JVM renders them)
      def rows(d: DataFrame) = d.select(("id" +: idx).map(col): _*).collect()
        .map(r => r.toSeq.map(String.valueOf)).sortBy(_.head.toLong).toSeq
      assert(rows(out) == rows(df), tag)
      // files in Spark's order: the physical (partition, position) order
      // is the order by index; no leading value spans two partitions;
      // nulls sort first into partition 0
      val got = out.select(col("p"), col("j"), col(idx.head).isNull.as("null"),
          row_number().over(Window.orderBy((idx :+ "p" :+ "j").map(col): _*)).as("r"),
          dense_rank().over(Window.orderBy(col(idx.head))).as("v"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2), r.getInt(3), r.getInt(4)))
        .sortBy(r => (r._1, r._2))
      assert(got.map(_._4).toSeq == (1 to got.length), s"$tag: files unsorted or out of order")
      assert(got.groupBy(_._5).forall(_._2.map(_._1).distinct.size == 1),
        s"$tag: a value spans partitions")
      assert(got.filter(_._3).forall(_._1 == 0), s"$tag: nulls outside partition 0")
    }
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      for ((dt, g) <- gens; _ <- 1 to 2) check(frame(Seq(dt), Seq(g), 240), rng.nextInt(9) + 1)
      // a two-column index buckets on its leading column
      check(frame(Seq(IntegerType, StringType), Seq(gens(0)._2, gens(4)._2), 240),
        rng.nextInt(8) + 2)
      // past the standard cut resolution
      check(frame(Seq(LongType), Seq(() => Long.box(rng.nextInt(100000).toLong)), 3000), 150)
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
  }
}
