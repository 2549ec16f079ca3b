package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Generic operator APIs cross-checked against naive (non-scalable)
  * equivalents on small data — the scale shapes must return exactly what
  * the obvious inequality joins return. */
class OperatorsSpec extends SparkSpec {

  import spark.implicits._

  test("asofJoin strict: matches the naive inequality join") {
    val trades = Seq((1L, 100L, "t1"), (1L, 200L, "t2"), (2L, 50L, "t3"))
      .toDF("k", "ts", "trade")
    val quotes = Seq((1L, 90L, 9.0), (1L, 100L, 10.0), (1L, 150L, 15.0),
      (2L, 60L, 6.0))
      .toDF("k", "qts", "px")
    val got = Joins.asofJoin(trades, quotes, Seq("k"), "ts", "qts", Seq("px"),
        strict = true)
      .orderBy("k", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(r.fieldIndex("asof_px"))).map(_.asInstanceOf[Double])))
    // strict: the quote AT ts=100 is not visible to the trade at ts=100
    assert(got.toSeq == Seq(
      (1L, 100L, Some(9.0)), (1L, 200L, Some(15.0)), (2L, 50L, None)))
  }

  test("asofJoin carries the latest right ROW atomically (null fields included)") {
    val trades = Seq((1L, 3L, "t")).toDF("k", "ts", "trade")
    val quotes = Seq(
      (1L, 1L, Option(10.0), Option(5L)),
      (1L, 2L, Option.empty[Double], Option(7L))) // latest row: px null, sz 7
      .toDF("k", "qts", "px", "sz")
    val got = Joins.asofJoin(trades, quotes, Seq("k"), "ts", "qts",
      Seq("px", "sz"), strict = true).collect().head
    assert(got.isNullAt(got.fieldIndex("asof_px")),
      "px must be the latest row's null, not a stale non-null")
    assert(got.getLong(got.fieldIndex("asof_sz")) == 7L)
  }

  test("asofJoin inclusive: same-instant right row is visible") {
    val trades = Seq((1L, 100L, "t1")).toDF("k", "ts", "trade")
    val quotes = Seq((1L, 90L, 9.0), (1L, 100L, 10.0)).toDF("k", "qts", "px")
    val got = Joins.asofJoin(trades, quotes, Seq("k"), "ts", "qts", Seq("px"),
      strict = false).collect()
    assert(got.head.getAs[Double]("asof_px") == 10.0)
  }

  test("rangeJoin: matches the naive inequality join on random-ish data") {
    val left = (1 to 40).map(i => (i.toLong % 3, i * 97L % 1000)).toDF("k", "ts")
    val right = (1 to 60).map(i => (i.toLong % 3, i * 61L % 1000, i.toLong))
      .toDF("k", "rts", "rid")
    val (lo, hi) = (0L, 120L)
    val naive = left.as("l").join(right.as("r"),
        col("l.k") === col("r.k") &&
          col("r.rts") > col("l.ts") + lo && col("r.rts") <= col("l.ts") + hi)
      .select(col("l.k"), col("l.ts"), col("r.rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val bucketed = Joins.rangeJoin(left, right, Seq("k"), "ts", "rts", lo, hi)
      .select(left("k"), col("ts"), col("rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(bucketed.toSeq == naive.toSeq)
    // and with a bucket width smaller than the window
    val fine = Joins.rangeJoin(left, right, Seq("k"), "ts", "rts", lo, hi, bucketMs = 37L)
      .select(left("k"), col("ts"), col("rid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(fine.toSeq == naive.toSeq)
  }

  test("minhash signatures are permutation-stable and detect near-dups") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words appear in this unrelated document text"))
      .toDF("id", "body")
    val sig = TextDedup.minhashSignatures(docs, "id", "body")
      .collect().map(r => r.getLong(0) -> (1 to 6).map(r.getLong)).toMap
    assert(sig(1L) == sig(2L), "identical docs must share all minhashes")
    assert(sig(1L) != sig(3L), "unrelated docs must differ somewhere")
    val pairs = TextDedup.lshCandidatePairs(docs, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("simhash: near-identical docs are close in hamming distance") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight"))
      .toDF("id", "body")
    val sh = TextDedup.simhash(docs, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
  }

  test("connected components match naive union-find on a random graph") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 60).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    // naive union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(x => x -> find(x)).toMap
    // min-id canonicalisation: map each root to the min member of its class
    val canon = want.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    val expected = want.map { case (x, r) => x -> canon(r) }

    val pairs = edges.toDF("a", "b")
    val got = TextDedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("connected components: a deep chain converges in O(log n) rounds") {
    // path graph 0-1-2-...-63: diameter 63. Pure min-label propagation
    // needs ~63 rounds; with pointer jumping log2(64)+c suffice — maxIter=10
    // would raise under the old algorithm, so this pins the speedup.
    val n = 64
    val chain = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    val got = TextDedup.connectedComponents(chain, "a", "b", maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    assert(got.values.forall(_ == 0L), "every node must label to the min id 0")
  }

  test("connected components: each round's jobs are named; the caller's description survives") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    val chain = (0 until 15).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    sc.setJobDescription("caller")
    sc.addSparkListener(listener)
    try {
      TextDedup.connectedComponents(chain, "a", "b")
      org.apache.spark.GraftListenerBridge.drain(sc)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
    import scala.jdk.CollectionConverters._
    val descriptions = seen.asScala.toSet
    assert(Set("connectedComponents round 1", "connectedComponents round 2")
      .subsetOf(descriptions), s"job descriptions seen: $descriptions")
  }

  test("connected components: reliable checkpoint path writes to the dir") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toFile
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
      val got = TextDedup.connectedComponents(pairs, "a", "b",
          checkpointDir = Some(dir.getAbsolutePath))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      assert(files(dir).nonEmpty, "reliable checkpoint must persist blocks to the dir")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("reliable CC loop rolls its label spills: ≤2 spill dirs survive a multi-round run") {
    val dir = java.nio.file.Files.createTempDirectory("cc-roll").toFile
    try {
      // a 16-chain takes several rounds — each must supersede the last spill
      val chain = (0 until 15).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
      val got = TextDedup.connectedComponents(chain, "a", "b",
          checkpointDir = Some(dir.getAbsolutePath))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.values.forall(_ == 0L))
      // edges spill + final labels spill only; intermediate rounds deleted
      val spills = dir.listFiles().count(_.getName.startsWith("ckpt-"))
      assert(spills == 2, s"expected 2 surviving spills (edges + final labels), got $spills")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("Rolling with dir=None unpersists the superseded localCheckpoint") {
    // localCheckpoint pins the internal RDD (not a cacheManager entry),
    // so observe through the SparkContext's persistent-RDD registry
    def pinned() = spark.sparkContext.getPersistentRDDs.keySet
    val before = pinned()
    val roll = new graft.runtime.Checkpoints.Rolling(spark, None)
    val a = roll(Seq(1, 2, 3).toDF("x"))
    val afterA = pinned() -- before
    assert(afterA.size == 1, s"first round pins one RDD, got $afterA")
    val b = roll(Seq(4, 5).toDF("x"))
    // a K-round loop must hold ONE pinned copy, not K: the previous
    // round's blocks release deterministically when the next materialises
    val afterB = pinned() -- before
    assert(afterB.size == 1, s"superseded round must release, got $afterB")
    assert((afterB & afterA).isEmpty, "the survivor is the LATEST round")
    assert(b.collect().map(_.getInt(0)).sorted.toSeq == Seq(4, 5))
  }

  test("withCheckpointScope empties the dir after a CC run, result stays live") {
    val dir = java.nio.file.Files.createTempDirectory("cc-scope").toFile
    try {
      val chain = (0 until 15).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
      val labels = graft.runtime.Checkpoints.withCheckpointScope(
          spark, dir.getAbsolutePath) { scoped =>
        TextDedup.connectedComponents(chain, "a", "b",
          checkpointDir = Some(scoped))
      }
      // the scope (and every spill under it) is gone...
      assert(dir.listFiles().isEmpty,
        s"scope must delete its spills, found: ${dir.listFiles().map(_.getName).toSeq}")
      // ...and the result still reads (materialised before deletion)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 16 && got.values.forall(_ == 0L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("dedupByClusters labels canonical docs across a dup chain") {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "y")).toDF("id", "t")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b") // chain: {1,2,3}
    val out = TextDedup.dedupByClusters(docs, "id", pairs, "a", "b")
      .select("id", "component", "is_canonical")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    assert(out.toSeq == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true)))
  }

  test("decontaminate counts distinct shared n-grams against the benchmark") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // shares 'alpha beta gamma' + 'beta gamma delta'
      (2L, "unrelated words entirely here now"),
      (3L, "beta gamma delta epsilon zeta"),
      (4L, "hi"))                               // too short for a 3-gram
      .toDF("id", "t")
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("bid", "bt")
    val got = TextDedup.decontaminate(docs, "id", "t", bench, "bt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares 'alpha beta gamma' and 'beta gamma delta'; doc 3 shares
    // 'beta gamma delta'; docs 2 and 4 are clean (absent)
    assert(got == Map(1L -> 2L, 3L -> 1L))
    // the over-threshold (shuffle-join) route must agree exactly with the
    // broadcast route — threshold 0 forces it
    val shuffled = TextDedup.decontaminate(docs, "id", "t", bench, "bt",
      benchBroadcastMaxBytes = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled == got)
  }

  test("unigramLogProb scores docs against the corpus's own distribution") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("id", "t")
    val out = TextStats.unigramLogProb(docs, "id", "t")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // vocab: a:2 b:2 c:1, N=5, V=3 → p(a)=p(b)=3/8, p(c)=2/8
    val (lpA, lpC) = (math.log10(3.0 / 8), math.log10(2.0 / 8))
    assert(out(1L)._2 == 3 && math.abs(out(1L)._1 - lpA) < 1e-3)
    assert(out(2L)._2 == 2 && math.abs(out(2L)._1 - (lpA + lpC) / 2) < 1e-3)
    // the common-word doc scores strictly higher than the rare-word doc
    assert(out(1L)._1 > out(2L)._1)
  }

  test("bigramLogProb: hand-computed smoothing, order sensitivity, short-doc contract") {
    // corpus: both docs carry bigram (a,b); doc 2 also (b,a). Unigram
    // counts include the bigram-less doc 3: a:3 b:2 x:1, V=3;
    // c(a b)=2, c(b a)=1
    val docs = Seq((1L, "a b"), (2L, "a b a"), (3L, "x"), (4L, "")).toDF("id", "t")
    val out = TextStats.bigramLogProb(docs, "id", "t")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // docs with < 2 tokens have no bigrams and are absent (the
    // unigramLogProb NULL-text contract, extended)
    assert(out.keySet == Set(1L, 2L))
    val lpAB = math.log10(3.0 / 6) // (2+1)/(c(a)=3 + V=3)
    val lpBA = math.log10(2.0 / 5) // (1+1)/(c(b)=2 + V=3)
    assert(out(1L)._2 == 1 && math.abs(out(1L)._1 - (math.rint(lpAB * 1e4) / 1e4)) < 1e-9)
    assert(out(2L)._2 == 2 && math.abs(out(2L)._1 - (math.rint((lpAB + lpBA) / 2 * 1e4) / 1e4)) < 1e-4)
    // ORDER sensitivity — the whole point over the unigram score: same
    // multiset of words, different order, different score
    val pair = Seq((1L, "a a b"), (2L, "a b a")).toDF("id", "t")
    val sc = TextStats.bigramLogProb(pair, "id", "t")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sc(1L) != sc(2L), "reordered words must score differently")
    // whitespace noise: "" tokens filtered BEFORE pairing, so "a  b"
    // still forms the (a, b) bigram rather than (a, "") + ("", b)
    val noisy = TextStats.bigramLogProb(Seq((9L, "a  b")).toDF("id", "t"), "id", "t")
      .collect().head
    assert(noisy.getLong(2) == 1)
  }

  test("bigramLogProbHashed: collision-free bucketing equals the exact LM bit-for-bit") {
    // with B >> types the hashed bucket count IS the exact pair count, so
    // the O(B)-exchange rendering must reproduce bigramLogProb exactly —
    // any drift is a bucketing/hash/join bug, not collision noise
    val docs = Seq((1L, "a b"), (2L, "a b a"), (3L, "c a b c"), (4L, "x"))
      .toDF("id", "t")
    val exact = TextStats.bigramLogProb(docs, "id", "t")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val hashed = TextStats.bigramLogProbHashed(docs, "id", "t", buckets = 1 << 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(hashed == exact, s"hashed $hashed vs exact $exact")
    // a FORCED collision regime (B=2): counts merge across buckets —
    // hash-dependent but fully deterministic, and the absence contract
    // (sub-two-token docs) still holds
    val collided = TextStats.bigramLogProbHashed(docs, "id", "t", buckets = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(collided.keySet == Set(1L, 2L, 3L))
    val again = TextStats.bigramLogProbHashed(docs, "id", "t", buckets = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(collided == again, "collided bucketing must be deterministic")
  }

  test("sharedNgramSpans: stride-1 catches any alignment; strided mode provably cannot") {
    // docs 1 and 2 share the exact 5-token run "p q r s t" at DIFFERENT
    // alignments (run starts at token 1 vs token 2); doc 3 unique; doc 4
    // shorter than the window
    val docs = Seq(
      (1L, "p q r s t u1 v1 w1"),
      (2L, "z2 p q r s t u2 v2"),
      (3L, "a3 b3 c3 d3 e3 f3"),
      (4L, "p q")).toDF("id", "t")
    val got = TextDedup.sharedNgramSpans(docs, "id", "t", n = 4)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(3))).toMap
    // the run's two full 4-token windows, flagged in both docs, n_docs=2
    assert(got.keySet == Set((1L, 1), (1L, 2), (2L, 2), (2L, 3)))
    assert(got.values.forall(_ == 2L))
    // the documented stride caveat is REAL: at stride 2 the same 5-token
    // run is invisible because its two occurrences disagree modulo 2 —
    // windows sample different content offsets in each doc
    assert(TextDedup.sharedNgramSpans(docs, "id", "t", n = 4, stride = 2)
      .collect().isEmpty)
    // minDocs above the duplication level silences the report
    assert(TextDedup.sharedNgramSpans(docs, "id", "t", n = 4, minDocs = 3)
      .collect().isEmpty)
  }

  test("paragraphDedup: corpus-frequent paragraphs dropped, order kept, all docs survive") {
    // "HDR" is in 3 distinct docs (boilerplate at maxDocs=2); "mid" in 2
    // (kept); content unique. Doc 4 is ALL boilerplate. Doc 2 repeats its
    // own content paragraph 3 times — within-doc repetition is NOT
    // corpus frequency and must survive intact.
    val docs = Seq(
      (1L, "HDR\nalpha\nmid\nomega"),
      (2L, "HDR\nbeta\nbeta\nbeta"),
      (3L, "mid\nHDR\ngamma"),
      (4L, "HDR")).toDF("id", "t")
    val out = TextDedup.paragraphDedup(docs, "id", "t", maxDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (("alpha\nmid\nomega", 4L, 1L)))
    assert(out(2L) == (("beta\nbeta\nbeta", 4L, 1L)), "within-doc repeats kept")
    assert(out(3L) == (("mid\ngamma", 3L, 1L)), "order of survivors preserved")
    assert(out(4L) == (("", 1L, 1L)), "all-boilerplate doc survives, empty")
    // regex-metacharacter separator splits literally
    val dotted = TextDedup.paragraphDedup(
      Seq((1L, "x.y"), (2L, "x.z")).toDF("id", "t"), "id", "t",
      maxDocs = 1, sep = ".")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dotted == Map(1L -> "y", 2L -> "z"))
  }

  test("unigramLogProb: pre-tokenised form agrees; empty tokens never enter the vocab") {
    // whitespace-noisy corpus: leading / double / trailing separators
    val docs = Seq((1L, " a  a b"), (2L, "b c "), (3L, "a")).toDF("id", "t")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val fromText = rows(TextStats.unigramLogProb(docs, "id", "t"))
    // the convenience form is exactly the pre-tokenised form fed its own
    // explode — a pipeline that tokenised once composes without re-split
    val words = docs.select(col("id"), explode(split(col("t"), " ")).as("w"))
    assert(rows(TextStats.unigramLogProbOfWords(words, "id", "w")) == fromText)
    // "" tokens are ignored: same distribution as the clean corpus
    // (vocab a:3 b:2 c:1, N=6, V=3), and n_tokens counts real words only
    val clean = rows(TextStats.unigramLogProb(
      Seq((1L, "a a b"), (2L, "b c"), (3L, "a")).toDF("id", "t"), "id", "t"))
    assert(fromText == clean)
    assert(fromText.find(_._1 == 1L).get._3 == 3)
  }

  test("temperatureRates flattens a 90/10 mix; rates are downsample-only") {
    val df = ((1 to 90).map(i => (i.toLong, "big")) ++
      (1 to 10).map(i => (100L + i, "small"))).toDF("id", "s")
    val out = TextStats.temperatureRates(df, "s", 0.5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // shares .9/.1 → pw .9487/.3162, z = 1.2649 → targets .75/.25;
    // rates .8333/2.5 normalise to .3333/1.0
    assert(out("big") == ((90L, 0.9, 0.75, 0.3333)))
    assert(out("small") == ((10L, 0.1, 0.25, 1.0)))
    // alpha = 1 is the identity mix: every rate 1.0
    val id = TextStats.temperatureRates(df, "s", 1.0)
      .collect().map(_.getDouble(4)).toSeq
    assert(id.forall(_ == 1.0))
  }

  test("stratified sample: per-stratum rates, deterministic across runs") {
    val df = (1 to 2000).map(i => (i.toLong, if (i % 4 == 0) "minor" else "major"))
      .toDF("id", "stratum")
    val sampled = TextStats.stratifiedSample(df, "stratum", "id",
      Map("major" -> 0.2), defaultFraction = 1.0)
    val counts = sampled.groupBy("stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("minor") == 500, "default fraction 1.0 keeps the whole stratum")
    assert(counts("major") > 220 && counts("major") < 380,
      s"~20% of 1500 expected, got ${counts("major")}")
    // no RNG: identical sample on re-evaluation
    val again = TextStats.stratifiedSample(df, "stratum", "id",
      Map("major" -> 0.2), defaultFraction = 1.0)
    assert(sampled.collect().map(_.getLong(0)).sorted.toSeq ==
      again.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("packSequences cuts groups into budget-sized sequences deterministically") {
    val df = Seq(
      (1L, "g1", 800L), (2L, "g1", 800L), (3L, "g1", 800L), // starts 0,800,1600
      (4L, "g1", 800L),                                      // start 2400 → seq 1
      (5L, "g2", 100L))
      .toDF("id", "grp", "toks")
    val out = TextStats.packSequences(df, "grp", "id", col("toks"), budget = 2000)
      .select("id", "seq_id", "seq_offset")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, "g1#0", 0L), (2L, "g1#0", 800L), (3L, "g1#0", 1600L),
      (4L, "g1#1", 400L), (5L, "g2#0", 0L)))
  }

  test("packSequences: order-column ties pack as ROWS, not RANGE peers") {
    // two ties at order=5 with 800 tokens each, budget 1000: with the
    // buggy RANGE default both would start at 800; with ROWS one starts
    // at 0 — offsets must be distinct and one of them 0
    val df = Seq((1L, "g", 5L, 800L), (2L, "g", 5L, 800L)).toDF("id", "grp", "ord", "toks")
    val out = TextStats.packSequences(df, "grp", "ord", col("toks"), budget = 1000)
      .select("seq_offset").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(0L, 800L), s"got ${out.toSeq}")
  }

  test("packSequences: NULL group yields NULL seq_id (SQL || semantics)") {
    val df = Seq((1L, Option("g"), 10L), (2L, Option.empty[String], 10L))
      .toDF("id", "grp", "toks")
    val out = TextStats.packSequences(df, "grp", "id", col("toks"), budget = 100)
      .select("id", "seq_id").collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L).contains("g#0") && out(2L).isEmpty)
  }

  test("packSequences sharded: dominant group packs exactly across shards") {
    // one group with 500 docs (the skew shape: ≫ the other group); 4
    // shards must reproduce EXACT running offsets under the documented
    // layout — (md5-shard of order col, order col) within each group
    val shards = 4
    val docs = (1L to 500L).map(i => (i, "big", (i % 7) + 1L)) :+ ((1001L, "small", 5L))
    val df = docs.toDF("id", "grp", "toks")
    val out = TextStats.packSequences(df, "grp", "id", col("toks"),
        budget = 64, shards = shards)
      .select("id", "grp", "toks", "seq_id", "seq_offset").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getLong(4)))
    assert(out.length == docs.length)
    def shardOf(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % shards
    }
    val expected = docs.groupBy(_._2).flatMap { case (grp, ds) =>
      var start = 0L
      ds.sortBy(d => (shardOf(d._1), d._1)).map { case (id, g, tok) =>
        val s = start; start += tok
        (id, g, tok, s"$g#${s / 64}", s % 64)
      }
    }.toSet
    assert(out.toSet == expected)
  }

  test("packSequences sharded: NULL order column lands in shard 0, row kept") {
    // md5(NULL) is NULL — without the coalesce the row's shard key is
    // NULL, the null-unsafe stitch join drops it, and the sharded path
    // disagrees with shards=1 on row count
    val df = Seq((Option(1L), "g", 10L), (Option.empty[Long], "g", 7L))
      .toDF("ord", "grp", "toks")
    val unsharded = TextStats.packSequences(df, "grp", "ord", col("toks"), 100)
    val sharded = TextStats.packSequences(df, "grp", "ord", col("toks"), 100, shards = 4)
    assert(sharded.count() == 2 && unsharded.count() == 2)
    // md5("1") mod 4 = 0 too, so both docs share shard 0 with the NULL
    // ord first (NULLS FIRST): exact offsets 0 (7-token doc) then 7
    val offs = sharded.select("seq_offset").collect().map(_.getLong(0)).sorted
    assert(offs.toSeq == Seq(0L, 7L), s"got ${offs.toSeq}")
  }

  test("packSequences sharded: NULL group survives the stitch join, NULL seq_id") {
    val df = Seq((1L, Option("g"), 10L), (2L, Option.empty[String], 10L),
      (3L, Option.empty[String], 10L)).toDF("id", "grp", "toks")
    val out = TextStats.packSequences(df, "grp", "id", col("toks"),
      budget = 100, shards = 3)
    val m = out.select("id", "seq_id").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(m.size == 3 && m(1L).contains("g#0") && m(2L).isEmpty && m(3L).isEmpty)
  }

  test("stratified sample: null strata fall under the default fraction; bps round") {
    val df = (1 to 100).map(i => (i.toLong, Option.empty[String])).toDF("id", "stratum")
    val kept = TextStats.stratifiedSample(df, "stratum", "id",
      Map("x" -> 0.5), defaultFraction = 1.0).count()
    assert(kept == 100, s"default 1.0 must keep all null-stratum rows, kept $kept")
    // 0.043 * 10000 must round to 430 bps, not truncate to 429
    assert(math.round(0.043 * 10000) == 430L)
  }

  test("profile: exact quantiles, awkward column names and labels survive") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("b", 10L))
      .toDF("grp", "doc len") // space in the value column name
    val out = TextStats.profile(df, "grp", "doc len", Seq(0.5, 0.57))
    // 0.57*100 must label p57, not p56 (double truncation)
    assert(out.columns.toSeq == Seq("grp", "n", "mean", "p50", "p57"))
    val a = out.filter(col("grp") === "a").collect().head
    assert(a.getLong(a.fieldIndex("n")) == 4)
    // exact interpolated median of 1..4 = 2.5
    assert(a.getDouble(a.fieldIndex("p50")) == 2.5)
  }

  test("textstats: default redaction scrubs emails and UK phone shapes") {
    val df = Seq(
      "mail me at jo.smith+x@nhs-trust.org.uk or call 0161 496 0000 today",
      "no pii here").toDF("t")
    val out = df.select(TextStats.redact(col("t")).as("r"))
      .collect().map(_.getString(0))
    assert(out(0) == "mail me at <EMAIL> or call <PHONE> today")
    assert(out(1) == "no pii here")
  }

  test("textstats: split is deterministic and roughly proportional") {
    val df = (1 to 1000).map(_.toLong).toDF("id")
    val n = df.select(TextStats.trainSplit(col("id")).as("s"))
      .filter(col("s") === "train").count()
    assert(n > 850 && n < 950, s"train fraction off: $n/1000")
    // re-evaluation yields the identical assignment (no RNG)
    val twice = df.select(col("id"), TextStats.trainSplit(col("id")).as("a"))
      .withColumn("b", TextStats.trainSplit(col("id")))
      .filter(col("a") =!= col("b")).count()
    assert(twice == 0)
  }

  test("ann: planesFor holds bucket density constant as the corpus grows") {
    import graft.operators.Ann
    // one extra plane per doubling; ~log2(10) ≈ 3-4 planes per 10×
    assert(Ann.planesFor(2000, 64) == 5)
    assert(Ann.planesFor(4000, 64) == 6)
    assert(Ann.planesFor(20000, 64) == 9)
    // small corpora never go below one plane
    assert(Ann.planesFor(10, 64) == 1)
    intercept[IllegalArgumentException](Ann.planesFor(0, 64))
  }

  test("ann: ivfSearch with nprobe = K equals brute force; fewer probes degrade gracefully") {
    import graft.operators.Ann
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 200L).map(i => (i, Seq.fill(16)(rnd.nextFloat()))).toDF("id", "emb")
    val queries = vecs.filter(col("id") < 4)
    val cents = vecs.filter(col("id") < 14).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .sortBy(_._1).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = rows(Ann.cosineTopK(vecs, queries, "id", "emb", k = 5))
    // probing every cell scores every vector exactly once → identical to
    // brute force, rank for rank
    val full = rows(Ann.ivfSearch(vecs, queries, "id", "emb", cents,
      nprobe = cents.size, k = 5))
    assert(full == brute, "nprobe = K must reproduce the brute-force top-k")
    // probe-limited: still k results per query, recall measurable and
    // sane (candidates are a biased-but-near subset, never garbage)
    val probed = rows(Ann.ivfSearch(vecs, queries, "id", "emb", cents,
      nprobe = 3, k = 5))
    assert(probed.size == 4 * 5, "k results per query even when probe-limited")
    val neighbors = (s: Set[(Long, Int, Long)]) => s.map(t => (t._1, t._3))
    val recall = neighbors(probed).intersect(neighbors(brute)).size / 20.0
    info(f"ivf probe-limited recall@5 = $recall%.2f")
    // measured 0.80 (deterministic fixture); floor just under so a probe
    // regression fails loudly while algorithm improvements still pass
    assert(recall >= 0.75, s"recall@5 fell under its measured level: $recall")
    intercept[IllegalArgumentException](
      Ann.ivfSearch(vecs, queries, "id", "emb", cents, nprobe = 0, k = 5))
  }

  test("ann: lsh bucket-mates and ivf cell-mates score real cosine") {
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.5f, 0.0f)
                 else Array(0.0f, 1.0f, 0.0f, 0.5f)
      (i.toLong, base.zipWithIndex.map { case (v, d) => v + 0.01f * ((i * 7 + d) % 5) }.toSeq)
    }.toDF("id", "emb")
    val planes = Ann.hyperplanes(numPlanes = 3, dim = 4)
    val lsh = Ann.annLsh(vecs, "id", "emb", planes)
    assert(lsh.count() > 0)
    assert(lsh.filter(col("cos_sim") > 1.0001 || col("cos_sim") < -1.0001).count() == 0)
    val cents = Seq((0L, Seq(1.0, 0.0, 0.5, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.5)))
    val ivf = Ann.annIvf(vecs, "id", "emb", cents)
    assert(ivf.count() == 20) // every vector has a same-cell neighbour here
    // the reliable-checkpoint index build returns the identical result
    val dir = java.nio.file.Files.createTempDirectory("ivf-ckpt").toFile
    try {
      val reliable = Ann.annIvf(vecs, "id", "emb", cents,
        checkpointDir = Some(dir.getAbsolutePath))
      assert(reliable.collect().toSet == ivf.collect().toSet)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
    // cells separate the two clusters: a vector's best neighbour shares parity
    val bad = ivf.filter(col("id") % 2 =!= col("neighbor") % 2).count()
    assert(bad == 0, "cluster members must find same-cluster neighbours")
  }

  test("ann: pq codebooks, encode and ADC search") {
    import graft.operators.Ann
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 200L).map(i => (i, Seq.fill(16)(rnd.nextFloat()))).toDF("id", "emb")
    val books = Ann.pqCodebooks(vecs, "id", "emb", m = 4, ksub = 8)
    // shape: m subspaces × ksub codes × dim/m dims, from the first ksub ids
    assert(books.length == 4 && books.forall(b => b.length == 8 && b.forall(_.length == 4)))

    // a seed vector quantises to its own code in every subspace (its own
    // subvector is at squared distance exactly 0.0 — the dot expansion
    // cancels bit-exactly because both folds run left-to-right)
    val enc = Ann.pqEncode(vecs, "id", "emb", books)
    assert(enc.columns.toSeq == Seq("id", "code_0", "code_1", "code_2", "code_3"))
    assert(enc.count() == 200, "encode must not drop rows")
    val seedCodes = enc.filter(col("id") < 8).collect()
      .map(r => (r.getLong(0), (1 to 4).map(r.getInt)))
    seedCodes.foreach { case (id, codes) =>
      assert(codes.forall(_ == id.toInt), s"seed $id must self-encode, got $codes")
    }
    // codes land in [0, ksub)
    assert(enc.filter((1 to 4).map(j => col(s"code_${j - 1}") < 0 ||
      col(s"code_${j - 1}") >= 8).reduce(_ || _)).count() == 0)

    // ADC search: k results per query, deterministic, and recall against
    // exact L2 top-k stays sane for an 8-code-per-subspace quantiser
    val queries = vecs.filter(col("id") < 4)
    val got = Ann.pqSearch(vecs, queries, "id", "emb", books, k = 5)
    val rows = got.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows.size == 4 * 5, "k results per query")
    assert(Ann.pqSearch(vecs, queries, "id", "emb", books, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet == rows,
      "re-evaluation must be identical (no RNG anywhere)")
    val data = vecs.collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble))).toMap
    def l2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = (0L until 4L).flatMap { q =>
      data.toSeq.filter(_._1 != q)
        .sortBy { case (id, v) => (l2(data(q), v), id) }.take(5)
        .map { case (id, _) => (q, id) }
    }.toSet
    val recall = rows.map(t => (t._1, t._3)).intersect(exact).size / 20.0
    info(f"pq ADC recall@5 = $recall%.2f")
    // measured 0.40 (deterministic fixture; untrained first-ksub books)
    assert(recall >= 0.35, s"ADC recall@5 fell under its measured level: $recall")
  }

  test("ann: lloyd codebook refinement — iters=0 is the seeding, deterministic, SSE monotone") {
    import graft.operators.Ann
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val vecs = (0L until 200L).map(i => (i, Seq.fill(16)(rnd.nextFloat()))).toDF("id", "emb")
    val plain = Ann.pqCodebooks(vecs, "id", "emb", m = 4, ksub = 8)
    assert(Ann.pqCodebooksLloyd(vecs, "id", "emb", m = 4, ksub = 8, iters = 0) == plain,
      "zero iterations must return the first-ksub seeding unchanged")
    val one = Ann.pqCodebooksLloyd(vecs, "id", "emb", m = 4, ksub = 8, iters = 1)
    assert(one == Ann.pqCodebooksLloyd(vecs, "id", "emb", m = 4, ksub = 8, iters = 1),
      "refinement must be deterministic (no RNG anywhere)")
    assert(one.length == 4 && one.forall(b => b.length == 8 && b.forall(_.length == 4)))
    // Lloyd never increases the sample's quantisation error: means
    // minimise SSE for a fixed assignment, re-assignment minimises it
    // for fixed codes (the empty-cell keep-old rule changes nothing)
    val sample = vecs.orderBy(col("id")).limit(256).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toIndexedSeq)
    def sse(books: Seq[Seq[Seq[Double]]]): Double =
      sample.map { v =>
        books.zipWithIndex.map { case (book, j) =>
          val s = v.slice(j * 4, j * 4 + 4)
          book.map(c => s.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum).min
        }.sum
      }.sum
    val (e0, e1) = (sse(plain), sse(one))
    info(f"sample SSE: seeding $e0%.3f -> one lloyd pass $e1%.3f")
    assert(e1 <= e0, s"lloyd pass increased quantisation error: $e0 -> $e1")
    // a second pass keeps improving or holds (monotone, still deterministic)
    val two = Ann.pqCodebooksLloyd(vecs, "id", "emb", m = 4, ksub = 8, iters = 2)
    assert(sse(two) <= e1)
  }

  test("ann: ivfPqSearch with nprobe = K equals pqSearch; fewer probes stay sane") {
    import graft.operators.Ann
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 200L).map(i => (i, Seq.fill(16)(rnd.nextFloat()))).toDF("id", "emb")
    val queries = vecs.filter(col("id") < 4)
    val cents = vecs.filter(col("id") < 14).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .sortBy(_._1).toSeq
    val books = Ann.pqCodebooks(vecs, "id", "emb", m = 4, ksub = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // probing every cell scores every candidate exactly once (a vector
    // lives in exactly one cell) with the identical ADC arithmetic →
    // rank-for-rank AND distance-for-distance equal to the full PQ scan
    val full = rows(Ann.ivfPqSearch(vecs, queries, "id", "emb", cents, books,
      nprobe = cents.size, k = 5))
    val pq = rows(Ann.pqSearch(vecs, queries, "id", "emb", books, k = 5))
    assert(full == pq, "nprobe = K must reproduce pqSearch exactly")
    // probe-limited: k results per query, a subset of plausible candidates
    val probed = rows(Ann.ivfPqSearch(vecs, queries, "id", "emb", cents, books,
      nprobe = 3, k = 5))
    assert(probed.size == 4 * 5, "k results per query even when probe-limited")
    val neighbors = (s: Set[(Long, Int, Long, Double)]) => s.map(t => (t._1, t._3))
    val recall = neighbors(probed).intersect(neighbors(pq)).size / 20.0
    info(f"ivf-pq recall@5 vs full pq = $recall%.2f")
    // measured 0.70 (deterministic fixture)
    assert(recall >= 0.65, s"IVF-PQ recall@5 vs full PQ fell under its measured level: $recall")
    intercept[IllegalArgumentException](
      Ann.ivfPqSearch(vecs, queries, "id", "emb", cents, books, nprobe = 0, k = 5))
  }

  test("ann: rerank with nprobe = K and R >= N IS exact L2 search; residual seeds are nonzero") {
    import graft.operators.Ann
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val vecs = (0L until 150L).map(i => (i, Seq.fill(16)(rnd.nextFloat()))).toDF("id", "emb")
    val queries = vecs.filter(col("id") < 4)
    val cents = vecs.filter(col("id") < 12).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .sortBy(_._1).toSeq
    val books = Ann.pqCodebooks(vecs, "id", "emb", m = 4, ksub = 8)
    // every cell probed + every candidate re-ranked exactly == the exact
    // L2 top-k, regardless of how bad the ADC ordering was: the ADC tier
    // only PRE-FILTERS, and with R >= N it filters nothing. The driver
    // oracle folds the same expansion arithmetic.
    val data = vecs.collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toIndexedSeq))
    def l2(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
      val s2 = a.foldLeft(0.0)((acc, x) => acc + x * x)
      val dot = a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)
      val n2 = b.foldLeft(0.0)((acc, x) => acc + x * x)
      (s2 - 2.0 * dot) + n2
    }
    val expect = data.filter(_._1 < 4).flatMap { case (q, qv) =>
      data.filter(_._1 != q)
        .map { case (id, v) => (id, l2(v, qv)) }
        .sortBy { case (id, d) => (d, id) }.take(5).zipWithIndex
        .map { case ((id, d), i) => (q, i + 1, id,
          BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }.toSet
    val got = Ann.ivfPqSearch(vecs, queries, "id", "emb", cents, books,
        nprobe = cents.size, k = 5, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expect, "nprobe=K + rerank>=N must reproduce exact L2 top-k")
    // a probe-limited rerank still returns k rows per query with exact
    // distances (l2_dist column, ascending per query)
    val probed = Ann.ivfPqSearch(vecs, queries, "id", "emb", cents, books,
      nprobe = 3, k = 5, rerank = 20)
    assert(probed.columns.toSeq == Seq("q_id", "rank", "neighbor", "l2_dist"))
    assert(probed.count() == 4 * 5)
    // residual codebooks: seeds start past the quantizer's own rows, so
    // no code is the zero vector (the degenerate codebook this rule
    // exists to prevent — seeding from id 0 would subtract each centroid
    // from itself)
    val rbooks = Ann.pqResidualCodebooks(vecs, "id", "emb", cents, m = 4, ksub = 8)
    assert(rbooks.length == 4 && rbooks.forall(_.length == 8))
    rbooks.flatten.foreach { code =>
      assert(code.exists(x => math.abs(x) > 1e-12),
        "a residual code collapsed to the zero vector")
    }
    // and the residual pipeline keeps the output contract
    val res = Ann.ivfPqSearch(vecs, queries, "id", "emb", cents, rbooks,
      nprobe = 3, k = 5, residual = true)
    assert(res.columns.toSeq == Seq("q_id", "rank", "neighbor", "adc_dist"))
    assert(res.count() == 4 * 5)
  }

  test("ann: two-level assignment follows the documented block rule exactly") {
    import graft.operators.Ann
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val vecs = (0L until 300L).map(i => (i, Seq.fill(16)(rnd.nextFloat()))).toDF("id", "emb")
    val cents = vecs.filter(col("id") < 20).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .sortBy(_._1).toSeq
    // driver-side oracle for the rule: blocks of ceil(sqrt(K)) in id
    // order, rep = block head, coarse argmin (ties -> lower block) then
    // fine argmin within the block (ties -> lower id); squared L2 summed
    // left-to-right in doubles, the same fold order as the expression
    val g = math.ceil(math.sqrt(cents.size.toDouble)).toInt
    val blocks = cents.grouped(g).toSeq
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    val expect = vecs.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toSeq
      val gi = blocks.map(b => d2(v, b.head._2)).zipWithIndex
        .minBy { case (dist, i) => (dist, i) }._2
      val cell = blocks(gi).map { case (id, c) => (d2(v, c), id) }
        .minBy { case (dist, id) => (dist, id) }._2
      (r.getLong(0), cell)
    }.toMap
    val got = Ann.assignCellsHier(vecs, "emb", cents).select(col("id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expect, "hier assignment must match the block rule")
    // with a single block (K tiny) hier degenerates to the exact argmin
    val two = cents.take(2)
    val hier2 = Ann.assignCellsHier(vecs, "emb", two).select(col("id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val exact2 = vecs.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toSeq
      (r.getLong(0), two.map { case (id, c) => (d2(v, c), id) }.minBy(identity)._2)
    }.toMap
    assert(hier2 == exact2, "K <= 2 is one block: hier == exact argmin")
    // annIvf(twoLevel) is deterministic and keeps the output contract
    val ivf = Ann.annIvf(vecs, "id", "emb", cents, twoLevel = true)
    assert(ivf.columns.toSeq == Seq("id", "cell", "neighbor", "cos_sim"))
    assert(ivf.collect().toSet == Ann.annIvf(vecs, "id", "emb", cents,
      twoLevel = true).collect().toSet)
  }

  test("ann: pqParamsFor reproduces both measured operating points and saturates") {
    import graft.operators.Ann
    // the two corpus points that ground the third sizing law (SCALING.md):
    // sf0.1 (n = 2000) ran ksub 16 + R 4k at recall 0.600; sf1 (n = 20000)
    // needed ksub 256 + R 100 for 0.850
    assert(Ann.pqParamsFor(2000, k = 5) == ((16, 20)))
    assert(Ann.pqParamsFor(20000, k = 5) == ((256, 100)))
    // monotone in n; ksub saturates at the 8-bit ceiling, R keeps growing
    assert(Ann.pqParamsFor(200000, k = 5) == ((256, 1000)))
    assert(Ann.pqParamsFor(4000, k = 5)._1 == 32)
    // small corpora never exceed the corpus itself on R, never dip under 16 codes
    assert(Ann.pqParamsFor(10, k = 5) == ((16, 10)))
    intercept[IllegalArgumentException](Ann.pqParamsFor(0, 5))
  }

  test("ann: flat assignCells matches the driver argmin and first-min ties") {
    import graft.operators.Ann
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val vecs = (0L until 120L).map(i => (i, Seq.fill(8)(rnd.nextFloat()))).toDF("id", "emb")
    val cents = vecs.filter(col("id") < 7).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .sortBy(_._1).toSeq
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    val expect = vecs.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toSeq
      (r.getLong(0), cents.map { case (id, c) => (d2(v, c), id) }.minBy(identity)._2)
    }.toMap
    val got = Ann.assignCells(vecs, "emb", cents, out = "topic")
      .select(col("id"), col("topic"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expect, "flat assignment must be the exact argmin")
    // a centroid row is assigned to itself (distance 0, first minimum)
    cents.foreach { case (id, _) => assert(got(id) == id) }
  }

  test("selection/chunk/vocab null contracts: nothing throws, drops are deliberate") {
    import spark.implicits._
    val df = Seq((1L, Some("a b c"), Some("g1")), (2L, None, Some("g1")),
      (3L, Some("d e"), None)).toDF("id", "text", "grp")
    // chunkTokens: a NULL text has no token array — the generator drops
    // the row (same contract as encodeTokens' token-less docs); empty
    // string stays (one "" chunk, pinned in the chunking test)
    val chunkIds = TextStats.chunkTokens(df, "text", 4, 1)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(chunkIds == Set(1L, 3L), s"null text must drop, others chunk: $chunkIds")
    // capPerGroup: a NULL group is its own window partition (Spark
    // window semantics), so its rows rank among themselves
    val capped = TextStats.capPerGroup(df, "grp", Seq(col("id")), cap = 5)
      .select(col("id"), col("rk")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(capped == Set((1L, 1), (2L, 2), (3L, 1)))
    // tokenBudgetSelect: null tokens (from null text) sum as zero-width
    // rows — they are admitted while budget remains and never poison the
    // running sum into null
    val sel = TextStats.tokenBudgetSelect(df, "grp",
        TextStats.spaceTokens(col("text")), Seq(col("id")), 1.0)
      .select(col("id"), col("cum_tokens")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(sel(1L) == 3L, s"token sums must stay non-null: $sel")
    // encodeTokens against an EMPTY vocab: everything is OOV, nothing throws
    val emptyVocab = TextStats.buildVocab(df.filter(lit(false)), "text", 10, 1)
    val enc = TextStats.encodeTokens(df.na.drop(Seq("text")), "id", "text", emptyVocab)
      .select(col("id"), col("n_tokens"), col("n_oov")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(enc == Set((1L, 3L, 3L), (3L, 2L, 2L)))
    // qualityFilter: an all-null quality column yields a null threshold —
    // the gate keeps nothing rather than everything (>= null is never true)
    val nullQ = TextStats.qualityFilter(df, lit(null).cast("double"))
    assert(nullQ.count() == 0)
  }

  test("simhash pairs: banding finds EXACTLY the brute-force set at the threshold") {
    import spark.implicits._
    // the pigeonhole contract is exact recall at hamming <= bands-1 —
    // cross-check the banded join against all-pairs over the same
    // signatures on a mixed corpus (templated near-dups + unrelated docs)
    val rnd = new scala.util.Random(83)
    val vocabs = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (1L to 60L).map { i =>
      val base = (0 until 12).map(j => vocabs((i % 4 + j).toInt % vocabs.length))
      val mutated = if (i % 3 == 0) base.updated(rnd.nextInt(12), "mut" + i) else base
      (i, mutated.mkString(" "))
    }.toDF("id", "body")
    val sigs = TextDedup.simhash(docs, "id", "body", bits = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    val banded = TextDedup.simhashPairs(docs, "id", "body",
        bits = 32, bands = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "fixture must actually produce near-dup pairs")
    assert(banded == brute,
      s"banding must equal brute force at the pigeonhole threshold: " +
        s"missing ${brute -- banded}, extra ${banded -- brute}")
    // the guarantee's precondition is enforced, not assumed
    intercept[IllegalArgumentException](
      TextDedup.simhashPairs(docs, "id", "body", bits = 32, bands = 4, maxHamming = 4))
    intercept[IllegalArgumentException](
      TextDedup.simhashPairs(docs, "id", "body", bits = 30, bands = 4))
    // the wide-hash family is self-consistent too: banding == brute force
    // at a width past 32 bits (the sized track's regime)
    val sigsW = TextDedup.simhash(docs, "id", "body", bits = 44, wideHash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bruteW = (for {
      (a, sa) <- sigsW; (b, sb) <- sigsW if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    val bandedW = TextDedup.simhashPairs(docs, "id", "body",
        bits = 44, bands = 4, maxHamming = 3, wideHash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(bandedW == bruteW, "wide-hash banding must also equal brute force")
  }

  test("simhash width: sizing rule holds band density and reproduces the floor/ceiling") {
    import graft.operators.TextDedup
    assert(TextDedup.simhashWidthFor(500) == 8)      // floor: small corpora
    assert(TextDedup.simhashWidthFor(64L << 8) == 8) // boundary exact
    assert(TextDedup.simhashWidthFor((64L << 8) + 1) == 9)
    assert(TextDedup.simhashWidthFor(500000) == 13)  // the sf10 documents corpus
    assert(TextDedup.simhashWidthFor(64L << 14) == 14) // ceiling holds
    // past the 56-bit ceiling: width PINS at 14 (denser buckets, logged)
    // rather than refusing the corpus — a 100M-doc run proceeds with
    // ~6k-doc buckets instead of throwing (ADVICE r11)
    assert(TextDedup.simhashWidthFor((64L << 14) + 1) == 14)
    assert(TextDedup.simhashWidthFor(100000000L) == 14)
    intercept[IllegalArgumentException](TextDedup.simhashWidthFor(0))
  }

  test("incremental dedup: replayed docs die on normalised content, new ones survive") {
    import spark.implicits._
    val history = Seq((1L, "The Quick   Brown Fox"), (2L, "old news")).toDF("id", "body")
    val batch = Seq(
      (10L, "the quick brown fox"),   // normalises to history doc 1 — dies
      (11L, "genuinely new content"), // survives
      (12L, "OLD   NEWS")             // normalises to history doc 2 — dies
    ).toDF("id", "body")
    val kept = TextDedup.dedupAgainst(batch, "id", "body", history, "body")
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(11L))
    // the anti join must be shuffle-hash, never a history broadcast or sort
    val plan = TextDedup.dedupAgainst(batch, "id", "body", history, "body")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftAnti"),
      s"history side must build a shuffle-hash anti join:\n$plan")
  }

  test("vocab: deterministic ids by (count desc, word); encode fingerprints order-sensitively") {
    import spark.implicits._
    val docs = Seq(
      (1L, "b a b c b a"), (2L, "a c a"), (3L, "zz yy")).toDF("id", "text")
    // corpus counts: a=4, b=3, c=2, zz=1, yy=1 — the singletons fall to
    // minCount and ids go to (a, b, c) in (count desc, word asc) order
    val vocab = TextStats.buildVocab(docs, "text", maxSize = 3, minCount = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._2)
    assert(vocab.toSeq == Seq(("a", 0L, 4L), ("b", 1L, 3L), ("c", 2L, 2L)),
      s"vocab order must be (count desc, word asc): ${vocab.toSeq}")
    val enc = TextStats.encodeTokens(docs, "id", "text",
        TextStats.buildVocab(docs, "text", maxSize = 3, minCount = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    // doc1 "b a b c b a" -> 1,0,1,2,1,0; doc2 "a c a" -> 0,2,0; doc3 all OOV
    def fp(ids: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(ids.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(enc == Seq(
      (1L, 6L, 0L, fp("1,0,1,2,1,0")),
      (2L, 3L, 0L, fp("0,2,0")),
      (3L, 2L, 2L, fp("-1,-1"))))
    // order sensitivity: permuting tokens changes the fingerprint
    val perm = TextStats.encodeTokens(Seq((1L, "a b b c b a")).toDF("id", "text"),
      "id", "text", TextStats.buildVocab(docs, "text", 3, 2))
      .collect().head.getString(3)
    assert(perm != enc.head._4, "fingerprint must be order-sensitive")
  }

  test("selection: budget/cap operators agree with a driver-side oracle on random data") {
    import spark.implicits._
    // property-style cross-check (PackSequencesPropertySpec precedent):
    // deterministic pseudo-random corpora, Spark result vs a driver fold
    val rnd = new scala.util.Random(271)
    (1 to 3).foreach { trial =>
      val rows = (1 to 400).map { i =>
        (i.toLong, s"g${rnd.nextInt(5)}", rnd.nextInt(100) + 1,
          math.rint(rnd.nextDouble() * 100) / 100)
      }
      val df = rows.toDF("id", "grp", "toks", "q")
      // capPerGroup vs driver top-N
      val gotCap = TextStats.capPerGroup(df, "grp",
          Seq(col("q").desc, col("id")), cap = 7)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      val expCap = rows.groupBy(_._2).values.flatMap(
        _.sortBy(r => (-r._4, r._1)).take(7).map(_._1)).toSet
      assert(gotCap == expCap, s"capPerGroup diverged on trial $trial")
      // tokenBudgetSelect vs driver greedy fold
      val gotSel = TextStats.tokenBudgetSelect(df, "grp", col("toks"),
          Seq(col("q").desc, col("id")), fraction = 0.4)
        .select(col("id"), col("cum_tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val expSel = rows.groupBy(_._2).values.flatMap { g =>
        val total = g.map(_._3.toLong).sum
        val ordered = g.sortBy(r => (-r._4, r._1))
        val cums = ordered.scanLeft(0L)(_ + _._3).tail
        ordered.zip(cums).filter { case (r, cum) =>
          (cum - r._3).toDouble < 0.4 * total
        }.map { case (r, cum) => (r._1, cum) }
      }.toMap
      assert(gotSel == expSel, s"tokenBudgetSelect diverged on trial $trial")
    }
  }

  test("chunking: sliding windows cover every token, clamp at the end, never go empty") {
    import spark.implicits._
    // 10 tokens, size 4, overlap 1 (stride 3): chunks at 0, 3, 6 — the
    // last covers 6..10 so every token appears in some chunk
    val doc = (1 to 10).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "a b"), (3L, "")).toDF("id", "text")
    val got = TextStats.chunkTokens(df, "text", size = 4, overlap = 1)
      .select(col("id"), col("chunk_id"), col("start_tok"), col("n_tok"), col("chunk"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .sortBy(t => (t._1, t._2))
    assert(got.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0, 0, 4, "t1 t2 t3 t4"),
      (1L, 1, 3, 4, "t4 t5 t6 t7"),
      (1L, 2, 6, 4, "t7 t8 t9 t10")))
    // short and empty docs are exactly one whole-doc chunk
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0, 0, 2, "a b")))
    assert(got.filter(_._1 == 3L).toSeq == Seq((3L, 0, 0, 1, "")))
    // coverage invariant on a spread of sizes: concatenating the chunks'
    // token ranges covers [0, n) with no chunk empty or past-end
    Seq((25, 7, 3), (8, 8, 0), (9, 8, 7)).foreach { case (n, sz, ov) =>
      val d2 = Seq((1L, (1 to n).map("w" + _).mkString(" "))).toDF("id", "text")
      val ch = TextStats.chunkTokens(d2, "text", sz, ov)
        .select(col("start_tok"), col("n_tok"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).sortBy(_._1)
      assert(ch.forall { case (s, l) => l >= 1 && s + l <= n })
      val covered = ch.flatMap { case (s, l) => s until (s + l) }.toSet
      assert(covered == (0 until n).toSet, s"gap in coverage for ($n,$sz,$ov)")
    }
    intercept[IllegalArgumentException](TextStats.chunkTokens(df, "text", 4, 4))
  }

  test("selection: qualityFilter keeps exactly the rows at or above the corpus mean") {
    import spark.implicits._
    val df = Seq((1L, 0.9), (2L, 0.5), (3L, 0.1), (4L, 0.5))
      .toDF("id", "q") // mean = 0.5
    val kept = TextStats.qualityFilter(df, col("q"))
      .select(col("id"), col("q_threshold"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(kept.map(_._1).toSeq == Seq(1L, 2L, 4L),
      "boundary rows (q == mean) must be kept; below-mean dropped")
    assert(kept.forall(_._2 == 0.5), "threshold column must carry the mean")
  }

  test("selection: capPerGroup keeps the top-N per group with deterministic ties") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.9), ("a", 3L, 0.8), ("a", 4L, 0.7),
      ("b", 5L, 0.3)).toDF("src", "id", "q")
    val kept = TextStats.capPerGroup(df, "src",
        Seq(col("q").desc, col("id")), cap = 2)
      .select(col("src"), col("id"), col("rk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted
    // tie at q = 0.9 breaks by lower id; group b is under the cap
    assert(kept.toSeq == Seq(("a", 1L, 1), ("a", 2L, 2), ("b", 5L, 1)))
  }

  test("selection: tokenBudgetSelect admits rows while the budget has room") {
    import spark.implicits._
    // group g: totals 100; fraction 0.3 => budget 30. Rows in order
    // (q desc): 25 tokens (cum-before 0 < 30: keep), 20 (25 < 30: keep,
    // overshooting to 45 — greedy admits the row that crosses), 55
    // (45 >= 30: drop). Head-larger-than-budget group h: first row always
    // admitted (cum-before 0 < budget).
    val df = Seq(
      ("g", 1L, 0.9, 25), ("g", 2L, 0.8, 20), ("g", 3L, 0.7, 55),
      ("h", 4L, 0.9, 1000)).toDF("lang", "id", "q", "toks")
    val kept = TextStats.tokenBudgetSelect(df, "lang", col("toks"),
        Seq(col("q").desc, col("id")), fraction = 0.3)
      .select(col("id"), col("cum_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(kept.toSeq == Seq((1L, 25L), (2L, 45L), (4L, 1000L)))
    intercept[IllegalArgumentException](
      TextStats.tokenBudgetSelect(df, "lang", col("toks"), Seq(col("id")), 0.0))
  }

  test("shuffleShards: deterministic, seed-sensitive, dense 1-based pos per shard") {
    val df = (0L until 200L).toDF("id")
    val a = TextStats.shuffleShards(df, "id", shards = 4, seed = "s1")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val b = TextStats.shuffleShards(df, "id", shards = 4, seed = "s1")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(a.toSeq == b.toSeq, "same seed must reproduce bit-identically")
    val c = TextStats.shuffleShards(df, "id", shards = 4, seed = "s2")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(a.toSeq != c.toSeq, "a fresh seed must be a fresh permutation")
    // every shard's positions are exactly 1..count(shard) — rank never
    // gaps or duplicates
    val byShard = a.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0 until 4).toSet))
    byShard.foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    assert(a.map(_._1).distinct.length == 200)
    intercept[IllegalArgumentException](
      TextStats.shuffleShards(df, "id", shards = 0))
  }

  test("contaminationFraction: frac thresholds what raw counts cannot") {
    val train = Seq(
      (1L, "a b c d e f"),        // grams: 4, shared: "a b c","b c d" = 2 -> 0.5
      (2L, "a b c"),              // grams: 1, shared 1 -> 1.0
      (3L, "x y z w"),            // grams: 2, shared 0 -> 0.0
      (4L, "so")                  // sub-n: 0 grams -> frac 0.0, still present
    ).toDF("doc_id", "text")
    val bench = Seq((0L, "a b c d")).toDF("doc_id", "text")
    val got = TextDedup.contaminationFraction(train, "doc_id", "text",
        bench, "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 4L, 2L, 0.5), (2L, 1L, 1L, 1.0), (3L, 2L, 0L, 0.0),
      (4L, 0L, 0L, 0.0)))
  }

  test("gopherStats: hand-computed line and 2-gram fractions") {
    // lines: [a b, c d, a b, x...] -> 4 lines, 1 beyond-first dup (3 of 13
    // line chars), 1 ellipsis line; words: a b c d a b x... -> "a b"
    // twice, others once; text length 17 (incl the trailing newline)
    val df = Seq((1L, "a b\nc d\na b\nx...\n")).toDF("doc_id", "text")
    val r = TextStats.gopherStats(df, "doc_id", "text").collect().head
    assert(r.getInt(1) == 4)
    assert(r.getDouble(2) == 0.25)            // 1/4
    assert(r.getDouble(3) == 0.2308)          // 3/13
    assert(r.getDouble(4) == 0.25)            // 1/4
    assert(r.getDouble(5) == 0.3529)          // 2*3/17
  }

  test("gopherStats: gram ties break lexicographically; empty text is all zero") {
    // grams over [b a b a a b a b]: "b a" x3, "a b" x3, "a a" x1 — the
    // tie must resolve to "a b" regardless of encounter order
    val df = Seq((1L, "b a\nb a\na b\na b"), (2L, "")).toDF("doc_id", "text")
    val got = TextStats.gopherStats(df, "doc_id", "text")
      .collect().sortBy(_.getLong(0))
    val r = got(0)
    assert(r.getInt(1) == 4 && r.getDouble(2) == 0.5 && r.getDouble(3) == 0.5)
    assert(r.getDouble(5) == 0.6)             // 3*3/15 — the lex-min gram
    val z = got(1)
    assert(z.getInt(1) == 0 && (2 to 5).forall(z.getDouble(_) == 0.0))
  }

  test("applyTemperature: dominant stratum downsampled, tail kept whole, deterministic") {
    // 900 'en' vs 100 'zh': alpha 0.5 rates are (by the published rate
    // algebra) en = 1.0... no — the MAX rate normalises to 1.0, which is
    // the rarest stratum (zh); en gets sqrt(share) flattening < 1
    val df = (0L until 1000L).map(i =>
      (i, if (i < 900) "en" else "zh")).toDF("doc_id", "lang")
    val out = TextStats.applyTemperature(df, "lang", "doc_id", 0.5)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // zh is the max-rate stratum -> rate 1.0 -> kept whole
    assert(out("zh") == 100L, s"tail stratum must survive whole: $out")
    // en's rate is (1/9)^0.5 / ... < 1; expected keep ~ rate * 900
    assert(out("en") < 500L && out("en") > 200L,
      s"dominant stratum must be flattened toward the tail: $out")
    val again = TextStats.applyTemperature(df, "lang", "doc_id", 0.5)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == out, "resample must be bit-deterministic")
  }

  test("calibrateByStratum: ranks are within-stratum, tie-broken, in [0,1]") {
    val df = Seq(
      (1L, "en", 0.9), (2L, "en", 0.5), (3L, "en", 0.1),
      (4L, "zh", 0.2), (5L, "zh", 0.2), // tie -> doc_id order
      (6L, "fr", 0.7)                   // singleton -> rank 0
    ).toDF("doc_id", "lang", "q")
    val got = TextStats.calibrateByStratum(df, "lang", col("q"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 1.0), (2L, 0.5), (3L, 0.0), (4L, 0.0), (5L, 1.0), (6L, 0.0)))
  }

  test("lexiconHits: word-boundary, case-insensitive, empty doc scores zero") {
    val df = Seq(
      (1L, "Bad BAD badger bad"),   // 3 whole-token 'bad' hits, never 'badger'
      (2L, "clean words only"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextStats.lexiconHits(df, "doc_id", "text", Seq("BAD", "words"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getDouble(4))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 4, 3, 1, 0.75), (2L, 3, 1, 1, 0.3333), (3L, 0, 0, 0, 0.0)))
    intercept[org.apache.spark.sql.AnalysisException](
      TextStats.lexiconHits(df, "doc_id", "text", Seq.empty).collect())
    // a multi-word phrase can never match one whitespace-delimited token —
    // fail at analysis instead of silently under-counting (ADVICE r11)
    intercept[org.apache.spark.sql.AnalysisException](
      TextStats.lexiconHits(df, "doc_id", "text", Seq("bad words")).collect())
    intercept[org.apache.spark.sql.AnalysisException](
      TextStats.lexiconHits(df, "doc_id", "text", Seq("ok", "")).collect())
  }

  test("removeSharedSpans: excises merged coverage from every occurrence") {
    // docs 1 and 2 share the run "a b c d e" (two overlapping 3-gram
    // windows in each -> one merged interval); doc 3 is unrelated; doc 4
    // is below the window size and must pass through untouched.
    val df = Seq(
      (1L, "x a b c d e y"),
      (2L, "a b c d e z w"),
      (3L, "p q r s t u v"),
      (4L, "hi yo")).toDF("doc_id", "text")
    val got = TextDedup.removeSharedSpans(df, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    // symmetric removal: the shared run dies in BOTH docs; the flanking
    // unique tokens survive in original order
    assert(got.toSeq == Seq(
      (1L, "x y", 5L), (2L, "z w", 5L), (3L, "p q r s t u v", 0L),
      (4L, "hi yo", 0L)))
  }

  test("removeSharedSpans: disjoint shared runs excise as separate islands") {
    // two shared 3-runs separated by unique middles — intervals must NOT
    // merge across the gap, and each doc keeps its own middle
    val df = Seq(
      (1L, "a b c m1 m2 d e f"),
      (2L, "a b c n1 n2 d e f"),
      (3L, "lone words only here")).toDF("doc_id", "text")
    val got = TextDedup.removeSharedSpans(df, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "m1 m2", 6L), (2L, "n1 n2", 6L), (3L, "lone words only here", 0L)))
  }

  test("dedupByClustersBest: keeper is the best by order, not the root") {
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5),  // one cluster {1,2,3}: best is 2
      (4L, 0.1),                        // singleton: canonical by default
      (5L, 0.7), (6L, 0.7)              // cluster {5,6}: quality tie -> 5
    ).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val got = TextDedup.dedupByClustersBest(docs, "doc_id", pairs, "a", "b",
        Seq(col("q").desc, col("doc_id")))
      .collect().map(r => (r.getLong(0), r.getBoolean(r.fieldIndex("is_canonical"))))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, false), (2L, true), (3L, false), (4L, true), (5L, true), (6L, false)))
    intercept[IllegalArgumentException](
      TextDedup.dedupByClustersBest(docs, "doc_id", pairs, "a", "b", Seq.empty))
  }

  test("removeContaminatedSpans: excises the quoted run, keeps the doc") {
    val train = Seq(
      (1L, "intro words then the secret eval answer is forty two indeed closing remarks"),
      (2L, "totally unrelated content with no leaks at all here")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the secret eval answer is forty two indeed")).toDF("doc_id", "text")
    val got = TextDedup.removeContaminatedSpans(train, "doc_id", "text",
        bench, "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    // every 4-gram of the 8-token quote matches a benchmark window, so
    // the full quoted run dies; flanks survive; doc 2 untouched; the
    // benchmark rows themselves are NOT in the output
    assert(got.toSeq == Seq(
      (1L, "intro words then closing remarks", 8L),
      (2L, "totally unrelated content with no leaks at all here", 0L)))
  }

  test("removeSharedSpans: whole-doc duplicates empty out; '' round-trips") {
    val df = Seq(
      (1L, "c1 c2 c3 c4"), (2L, "c1 c2 c3 c4"), (3L, "")).toDF("doc_id", "text")
    val got = TextDedup.removeSharedSpans(df, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, "", 4L), (2L, "", 4L), (3L, "", 0L)))
  }
}
