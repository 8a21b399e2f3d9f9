package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Functional checks for the hash-based near-dup pipelines on
  * constructed edge cases (the synthetic corpus has no near-dups, so
  * the sf queries exercise plumbing; these exercise detection).
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet hills near the old stone bridge"
  private val near = "the quick brown fox jumps over the lazy dog while snow falls on the quiet hills near the old stone bridge"
  private val far = "completely different words appear here with nothing shared at all between these two documents in any way whatsoever"

  test("minhashPairs finds near-duplicates, skips unrelated docs") {
    val pairs = Dedup.minhashPairs(docs(1L -> base, 2L -> near, 3L -> far), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 2L)))
  }

  test("minhashPairsAgainst finds only cross-set pairs (incremental ingest shape)") {
    // corpus: 1=base, 3=far. batch: 2=near-dup-of-1, 4=copy-of-2, 5=unrelated.
    // 2 and 4 are near-dups of each other but BOTH in the batch — a
    // cross-set dedup must not pair them; both must match corpus doc 1.
    val corpus = docs(1L -> base, 3L -> far)
    val batch = docs(2L -> near, 4L -> near, 5L -> "nothing here resembles anything in the corpus at all today")
    val got = Dedup.minhashPairsAgainst(corpus, batch, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((2L, 1L), (4L, 1L)))
  }

  test("minhashPairs finds exact duplicates with jaccard 1.0") {
    val rows = Dedup.minhashPairs(docs(1L -> base, 2L -> base), 0.99).collect()
    assert(rows.length === 1)
    assert(rows.head.getDouble(2) === 1.0)
  }

  test("simhashPairs blocks+verifies within hamming radius") {
    val pairs = Dedup.simhashPairs(docs(1L -> base, 2L -> near, 3L -> far), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
    assert(!pairs.contains((2L, 3L)))
  }

  test("shingles: <3-word docs yield the full word sequence (ANSI-safe)") {
    import org.apache.spark.sql.functions.col
    val out = docs(1L -> "one", 2L -> "two words", 3L -> "a b c", 4L -> "a b c d")
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(out(1L) === List("one"))
    assert(out(2L) === List("two words"))
    assert(out(3L) === List("a b c"))
    assert(out(4L) === List("a b c", "b c d"))
  }

  test("minhashPairs survives 1-2 word docs in the corpus") {
    val rows = Dedup.minhashPairs(
      docs(1L -> base, 2L -> near, 3L -> "hi", 4L -> "tiny doc"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSet === Set((1L, 2L)))
  }

  test("simhashPairs blocking equals brute-force truth (recall regression)") {
    // perturbed-replica corpus: every blocked result set must equal the
    // exhaustive hamming<=6 pair set (the 4x16-chunk layout failed this:
    // errors spread over all 4 chunks escaped every bucket)
    import org.apache.spark.sql.functions._
    val fillers = Seq("rain", "snow", "wind", "mist", "heat", "dust", "fog", "ice")
    val corpus = (0 until 64).map { i =>
      i.toLong -> s"the quick brown fox jumps over the lazy dog while ${fillers(i % 8)} falls on day $i near the ${fillers((i / 8) % 8)} bridge"
    }
    val d = docs(corpus: _*)
    val sigs = d.select(col("doc_id"), graft.functions.simhash64(col("text")).as("sig"))
    val a = sigs.select(col("doc_id").as("id_a"), col("sig").as("sa"))
    val b = sigs.select(col("doc_id").as("id_b"), col("sig").as("sb"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.simhashPairs(d, 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "corpus should contain hamming<=6 pairs")
    assert(blocked === brute)
  }


  test("setSimilarityJoin equals brute-force shingle Jaccard (no false negatives, exact values)") {
    import spark.implicits._
    // deterministic corpus: pair-programmed near-dups, a disjoint
    // doc, and a <3-word doc that must sit out entirely
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    def sentence(seed: Int, n: Int): String =
      (0 until n).map(i => words((seed * 7 + i * 3) % words.length)).mkString(" ")
    val rows = (0L until 12L).map { id =>
      val mutated =
        if (id % 3 == 2) sentence(id.toInt, 14) + " omega"  // near-dup of base(id)
        else sentence(id.toInt, 14)
      (id, if (id % 3 == 1) sentence(id.toInt, 14) else mutated)
    } :+ (100L, "tiny doc")
    val df = rows.toDF("doc_id", "text")
    def shingles(t: String): Set[String] = {
      val ws = t.trim.split(" +").filter(_.nonEmpty)
      if (ws.length < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = rows.map { case (id, t) => id -> shingles(t) }.toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys
      if a < b && sets(a).nonEmpty && sets(b).nonEmpty
      inter = (sets(a) & sets(b)).size
      if inter * 2L >= (sets(a).size + sets(b).size - inter) * 1L
    } yield (a, b, inter.toLong, sets(a).size.toLong, sets(b).size.toLong))
      .toSeq.sorted
    val got = Dedup.setSimilarityJoin(df, num = 1L, den = 2L)
      .select("id_a", "id_b", "inter", "na", "nb")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(got === want)
    assert(want.nonEmpty, "constructed corpus must produce matches")
  }

  test("subdocUnits: fixed word windows with packed uids") {
    val units = Dedup.subdocUnits(docs(3L -> ("w " * 40).trim), 16)
      .collect().map(r => (r.getLong(1), r.getString(2)))
    assert(units.length === 3) // 16 + 16 + 8 words
    assert(units.map(_._1).toSet === Set(3L * 1048576, 3L * 1048576 + 1, 3L * 1048576 + 2))
    assert(units.last._2.split(" ").length === 8)
  }

  test("subdocDupStats: flags shared windows cross-doc, ignores same-doc repeats") {
    val blockA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val blockB = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen"
    val blockC = "red orange yellow green blue indigo violet cyan magenta teal maroon navy olive coral amber jade"
    val blockD = "ant bee cat dog elk fox gnu hen ibis jay kite lark mole newt owl pig"
    // doc 1 = A+B; doc 2 = A+C (shares window A cross-doc); doc 3 = D+D
    // (repeats its OWN window only — must NOT count, dedup is cross-doc)
    val stats = Dedup.subdocDupStats(docs(
      1L -> s"$blockA $blockB", 2L -> s"$blockA $blockC",
      3L -> s"$blockD $blockD"), 16, 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stats(1L) === ((2L, 1L))) // A shared with doc2; B unique
    assert(stats(2L) === ((2L, 1L))) // A shared; C unique
    assert(stats(3L) === ((2L, 0L))) // identical windows, but same-doc only
  }

  test("substringDupSpans: maximal cross-doc runs only, short and same-doc spans dropped") {
    val shared20 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val shared10 = "one two three four five six seven eight nine ten"
    val selfBlock = "ant bee cat dog elk fox gnu hen"
    // doc 1: 5-word prefix + the 20-word shared block + 5-word suffix
    // doc 2: the same 20-word block + unrelated tail
    // doc 3: repeats its OWN 8-word block twice (same-doc only → no rows)
    // docs 4/5: share only a 10-word block (< 16 → filtered)
    val spans = Dedup.substringDupSpans(docs(
      1L -> s"red orange yellow green blue $shared20 maroon navy olive coral amber",
      2L -> s"$shared20 winter spring summer autumn solstice equinox harvest frost thaw bloom",
      3L -> s"$selfBlock $selfBlock",
      4L -> s"$shared10 quark lepton boson hadron meson photon gluon neutrino",
      5L -> s"$shared10 sonnet haiku ballad ode elegy epic hymn limerick"), 8, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.toSeq === Seq((1L, 6L, 20L), (2L, 1L, 20L)))
  }

  test("substringRemove: cuts flagged spans from every copy, keeps the rest in order") {
    val shared20 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val out = Dedup.substringRemove(docs(
      1L -> s"red orange yellow green blue $shared20 maroon navy olive coral amber",
      2L -> s"$shared20 winter spring summer autumn solstice equinox harvest frost thaw bloom",
      3L -> "nothing here repeats across documents at all in any eight word window today"), 8, 16)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // both copies of the 20-word span are cut; surrounding text survives
    assert(out(1L) === ((30L, 20L, "red orange yellow green blue maroon navy olive coral amber")))
    assert(out(2L) === ((30L, 20L,
      "winter spring summer autumn solstice equinox harvest frost thaw bloom")))
    // untouched doc passes through verbatim with 0 removed
    assert(out(3L)._2 === 0L && out(3L)._3.startsWith("nothing here repeats"))
  }

  test("decontaminate: counts shared 8-grams vs broadcast eval set") {
    val evalDoc = "the capital of france is paris and the capital of italy is rome always"
    val contaminated = s"intro words here $evalDoc trailing content words"
    val clean = "totally unrelated text about mountains rivers forests deserts oceans and valleys spanning many words"
    val out = Dedup.decontaminate(
      docs(1L -> contaminated, 2L -> clean), docs(100L -> evalDoc), 8, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val m = out.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(1L)._1 >= 3 && m(1L)._2, s"doc 1 should be contaminated: $out")
    assert(m(2L) === ((0L, false)))
  }

  test("bloomDecontaminate: exact d12 parity, bloom prunes, empty ref degenerates") {
    import org.apache.spark.sql.functions._
    val evalDoc = "the capital of france is paris and the capital of italy is rome always"
    val contaminated = s"intro words here $evalDoc trailing content words"
    val clean = "totally unrelated text about mountains rivers forests deserts oceans and valleys spanning many words"
    val batch = docs(1L -> contaminated, 2L -> clean)
    val ref = docs(100L -> evalDoc)
    val exact = Dedup.decontaminate(batch, ref, 8, 3).collect().map(_.toSeq)
    val bloomed = Dedup.bloomDecontaminate(batch, ref, 8, 3).collect().map(_.toSeq)
    assert(bloomed.toSeq === exact.toSeq)

    // the map-only prefilter really prunes: the clean doc's shingles
    // share nothing with the ref, so candidates < total batch shingles
    val sh = graft.functions.shingleHashes(col("text"), 8)
    val refBf = ref.select(explode(sh).as("h"))
      .agg(graft.functions.bloomAgg(col("h"), 1L << 12, 1L << 16))
      .head.getAs[Array[Byte]](0)
    val batchH = batch.select(explode(sh).as("h"))
    val nCand = batchH.where(graft.functions.bloomMightContain(refBf, col("h"))).count()
    assert(nCand < batchH.count(), "bloom prefilter should prune unshared shingles")
    assert(nCand >= 3, "bloom must keep every truly shared shingle (no false negatives)")

    // empty reference: bloom agg yields null, every doc comes back clean
    val none = Dedup.bloomDecontaminate(batch, ref.where(lit(false)), 8, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(none.toSet === Set((1L, 0L, false), (2L, 0L, false)))
  }

  test("signature store: batch join reads the corpus store with zero exchange") {
    import org.apache.spark.sql.functions._
    val corpus = docs(1L -> base, 3L -> far)
    val batch = docs(2L -> near,
      5L -> "nothing here resembles anything in the corpus at all today")
    try {
      Dedup.writeSignatureStore(corpus, "sigstore", 4)
      // (1) same answer as the recompute path
      val viaStore = Dedup.signatureStore("sigstore", 0.5).matches(spark, batch)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val direct = Dedup.minhashPairsAgainst(corpus, batch, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaStore === direct && viaStore === Set((2L, 1L)))
      // (2) the store side of the band join must not shuffle: the
      // bucketed scan IS the exchange, written once at store build
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val bb = batch
          .select(col("doc_id").as("batch_id"),
            graft.functions.shingleHashes(col("text"), 3).as("sh"))
          .select(col("batch_id"), explode(col("sh")).as("h"))
          .groupBy(col("batch_id"))
          .agg(graft.functions.minhashSig(col("h")).as("sig"))
          .select(col("batch_id"), xxhash64(element_at(col("sig"), 1)).as("skey"))
        val j = bb.join(spark.table("sigstore_bands"), "skey")
        j.collect()
        val plan = j.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
        // the store-side subtree (the SortMergeJoin lines NOT prefixed
        // with the first child's ':' gutter) must scan bucketed and
        // never exchange — the bucketed write IS its shuffle; only the
        // batch side (minhash agg + join key) shuffles
        val storeSide = plan.linesIterator
          .dropWhile(!_.contains("SortMergeJoin")).drop(1)
          .filterNot(_.trim.startsWith(":")).mkString("\n")
        assert(storeSide.contains("Bucketed: true"), plan)
        assert(!storeSide.contains("Exchange"), s"store side must not re-shuffle:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS sigstore_bands")
      spark.sql("DROP TABLE IF EXISTS sigstore_shingles")
    }
  }

  test("signature store append: a second batch dedups against the first batch's appended uniques") {
    import org.apache.spark.sql.functions._
    val tuneA = "autumn winds carry golden leaves across the quiet valley where shepherds guide their flocks home before the early mountain dusk settles"
    val tuneB = "autumn winds carry golden leaves across the quiet valley where shepherds guide their flocks home before the early winter dusk settles"
    try {
      Dedup.writeSignatureStore(docs(1L -> base, 3L -> far), "sigapp", 4)
      val n0 = spark.table("sigapp_shingles").count()
      // batch 1: doc 10 is brand new (appended), doc 11 near-dups corpus doc 1
      val b1 = Dedup.signatureStore("sigapp", 0.5).ingest(spark, docs(10L -> tuneA, 11L -> near))
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(b1(10L) === (("unique", -1L)))
      assert(b1(11L) === (("near", 1L)))
      assert(spark.table("sigapp_shingles").count() === n0 + 1) // only the unique appended
      // batch 2: doc 20 near-dups BATCH 1's doc 10 — visible only
      // because the append landed in the store
      val b2 = Dedup.signatureStore("sigapp", 0.5).ingest(spark, docs(20L -> tuneB))
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(b2(20L) === (("near", 10L)))
      // post-append reads stay bucketed and exchange-free on the store
      // side (append adds files per bucket; it must not break the
      // store's zero-shuffle contract)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val probe = docs(30L -> tuneA)
          .select(col("doc_id").as("batch_id"),
            graft.functions.shingleHashes(col("text"), 3).as("sh"))
          .select(col("batch_id"), explode(col("sh")).as("h"))
          .groupBy(col("batch_id"))
          .agg(graft.functions.minhashSig(col("h")).as("sig"))
          .select(col("batch_id"), xxhash64(element_at(col("sig"), 1)).as("skey"))
        val j = probe.join(spark.table("sigapp_bands"), "skey")
        j.collect()
        val plan = j.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
        val storeSide = plan.linesIterator
          .dropWhile(!_.contains("SortMergeJoin")).drop(1)
          .filterNot(_.trim.startsWith(":")).mkString("\n")
        assert(storeSide.contains("Bucketed: true"), plan)
        assert(!storeSide.contains("Exchange"), s"store side must not re-shuffle after append:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS sigapp_bands")
      spark.sql("DROP TABLE IF EXISTS sigapp_shingles")
    }
  }

  test("ingestBatch retry: replayed batch after store append does not self-match") {
    // crash-retry shape: the batch's signatures already landed in the
    // store (append succeeded, result write did not), then the whole
    // micro-batch replays. The replay must classify identically —
    // uniques stay unique instead of self-matching at jaccard 1.0.
    val tuneA = "autumn winds carry golden leaves across the quiet valley where shepherds guide their flocks home before the early mountain dusk settles"
    try {
      Dedup.writeSignatureStore(docs(1L -> base, 3L -> far), "sigretry", 4)
      val batch = docs(10L -> tuneA, 11L -> near)
      val first = Dedup.signatureStore("sigretry", 0.5).ingest(spark, batch)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(first(10L) === (("unique", -1L)))
      // replay the same batch: doc 10's signatures are now IN the
      // store; without the corpus_id =!= batch_id guard it would match
      // itself and flip to ("near", 10)
      val retry = Dedup.signatureStore("sigretry", 0.5).ingest(spark, batch)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(retry === first, s"retry must be idempotent: $retry vs $first")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sigretry_bands")
      spark.sql("DROP TABLE IF EXISTS sigretry_shingles")
    }
  }

  test("signature store delete: retired doc stops matching, compaction drops rows, id stays dead") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    try {
      Dedup.writeSignatureStore(docs(1L -> base, 3L -> far), "sigdel", 4)
      Dedup.writeLabelStore(docs(1L -> base, 3L -> far), "sigdel", 0.5, 4)
      def classify() = Dedup.signatureStore("sigdel", 0.5).matches(spark, docs(2L -> near))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(classify() === Set((2L, 1L)))
      assert(Dedup.clusterLabels(spark, "sigdel")
        .filter(col("doc_id") === 1L).count() === 1)
      Dedup.signatureStore("sigdel", 0.5).delete(spark, Seq(1L).toDF("doc_id"))
      // lazy delete: reads filter immediately, rows still on disk
      assert(classify() === Set.empty, "tombstoned doc must stop matching")
      assert(Dedup.clusterLabels(spark, "sigdel")
        .filter(col("doc_id") === 1L).count() === 0)
      assert(spark.table("sigdel_shingles").filter(col("doc_id") === 1L).count() === 1)
      // compaction reclaims the bytes; answers unchanged
      Dedup.signatureStore("sigdel", 0.5).compact(spark)
      Dedup.compactLabelStore(spark, "sigdel")
      Seq("sigdel_shingles", "sigdel_bands", "sigdel_labels").foreach { t =>
        assert(spark.table(t).filter(col("doc_id") === 1L).count() === 0,
          s"$t must drop tombstoned rows at compaction")
      }
      assert(classify() === Set.empty)
      // the id stays dead: a crash-replayed batch carrying doc 1 can
      // not resurrect its signatures through the ingest append
      Dedup.signatureStore("sigdel", 0.5).ingest(spark, docs(1L -> base))
      assert(spark.table("sigdel_shingles").filter(col("doc_id") === 1L).count() === 0)
      // ...but only within the store GENERATION: a full rebuild under
      // the same name resets the suppression list — fresh content
      // reusing the id (content-hash ids recur by design) must not be
      // silently dropped by a previous generation's takedowns
      Dedup.writeSignatureStore(docs(1L -> base, 3L -> far), "sigdel", 4)
      assert(classify() === Set((2L, 1L)),
        "rebuild must not inherit the old generation's tombstones")
    } finally {
      Seq("bands", "shingles", "labels", "remap", "tombstones")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS sigdel_$t"))
    }
  }

  test("signature store delete past the broadcast ceiling: shuffle anti-join fallback, answers unchanged") {
    // a whole-source takedown can outgrow any broadcast threshold —
    // force the graft.tombstone.broadcastMaxBytes ceiling to 0 so the
    // KB test sidecar takes the at-scale path, and assert the fallback
    // plan (shuffle-hash anti-join) returns the broadcast plan's rows
    import org.apache.spark.sql.functions._
    import spark.implicits._
    try {
      Dedup.writeSignatureStore(docs(1L -> base, 3L -> far), "sigceil", 4)
      Dedup.signatureStore("sigceil", 0.5).delete(spark, Seq(3L).toDF("doc_id"))
      def classify() = Dedup.signatureStore("sigceil", 0.5).matches(spark, docs(2L -> near, 4L -> far))
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaBroadcast = pairs(classify())
      assert(viaBroadcast === Set((2L, 1L)),
        "retired doc 3 must not match; live doc 1 must")
      spark.conf.set("graft.tombstone.broadcastMaxBytes", "0")
      try {
        val df = classify()
        assert(pairs(df) === viaBroadcast, "fallback path must not change answers")
        val plan = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        assert(plan.contains("ShuffledHashJoin"),
          s"expected the shuffle-hash anti-join fallback in:\n$plan")
      } finally spark.conf.unset("graft.tombstone.broadcastMaxBytes")
    } finally {
      Seq("bands", "shingles", "tombstones")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS sigceil_$t"))
    }
  }

  test("signature store compaction cadence: threshold-triggered, answers unchanged") {
    import org.apache.spark.sql.functions._
    val tuneA = "autumn winds carry golden leaves across the quiet valley where shepherds guide their flocks home before the early mountain dusk settles"
    val tuneB = "crimson dawn breaks over silver rivers while fishermen cast their woven nets into deep cold waters beneath the sleeping cliffs"
    try {
      Dedup.writeSignatureStore(docs(1L -> base, 3L -> far), "sigcad", 4)
      def nFiles(t: String): Long =
        graft.sources.BucketedStore.stats(spark, s"sigcad_$t").files.toLong
      Dedup.signatureStore("sigcad", 0.5).ingest(spark, docs(10L -> tuneA))
      Dedup.signatureStore("sigcad", 0.5).ingest(spark, docs(11L -> tuneB))
      assert(nFiles("bands") > 4, "appends must have added files")
      def classify() = Dedup.signatureStore("sigcad", 0.5).matches(spark, docs(20L -> near))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val before = classify()
      assert(before === Set((20L, 1L)))
      // over threshold → compacts; a second call finds nothing to do
      assert(Dedup.signatureStore("sigcad", 0.5).maybeCompact(spark, 1) === true)
      assert(nFiles("bands") <= 4 && nFiles("shingles") <= 4,
        "compaction must collapse to <= one file per bucket")
      assert(Dedup.signatureStore("sigcad", 0.5).maybeCompact(spark, 1) === false)
      assert(classify() === before)
    } finally {
      Seq("bands", "shingles").foreach(t => spark.sql(s"DROP TABLE IF EXISTS sigcad_$t"))
    }
  }

  test("label store: attach joins existing cluster; a bridging doc merges clusters via remap only") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    try {
      // corpus docs 1 and 2 near-dup each other but carry SPLIT label
      // roots (1 and 2) — the state two separate pre-label batches
      // leave behind. A batch doc matching BOTH must merge cluster 2
      // into cluster 1 with a remap row, never a labels rewrite.
      Dedup.writeSignatureStore(docs(1L -> base, 2L -> near), "lbl", 4)
      graft.sources.BucketedStore.create(
        Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "root"), "lbl_labels", 4, "doc_id")
      Seq.empty[(Long, Long)].toDF("old_root", "new_root")
        .write.format("parquet").saveAsTable("lbl_remap")
      val labelFilesBefore = spark.table("lbl_labels").inputFiles.toSet

      val out = Dedup.signatureStore("lbl", 0.5).ingestLabeled(spark, docs(10L -> base))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(out(10L) === (("near", 1L, 1L)))
      // doc 2's cluster merged into 1 — visible through the resolved
      // view, carried by exactly one remap row, labels files untouched
      val lab = Dedup.clusterLabels(spark, "lbl")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lab === Map(1L -> 1L, 2L -> 1L, 10L -> 1L))
      val remap = spark.table("lbl_remap")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(remap === Set((2L, 1L)))
      assert(labelFilesBefore.subsetOf(spark.table("lbl_labels").inputFiles.toSet),
        "merge must not rewrite existing label files")

      // replay the same batch: same classification, no label-row dups,
      // no new merges (the merge already happened)
      val replay = Dedup.signatureStore("lbl", 0.5).ingestLabeled(spark, docs(10L -> base))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(replay === out)
      assert(spark.table("lbl_labels").count() === 3)
      assert(spark.table("lbl_remap").count() === 1)

      // compaction folds the remap into the labels and empties it
      Dedup.compactLabelStore(spark, "lbl")
      val lab2 = Dedup.clusterLabels(spark, "lbl")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lab2 === lab)
      assert(spark.table("lbl_remap").count() === 0)
    } finally {
      Seq("lbl_bands", "lbl_shingles", "lbl_labels", "lbl_remap")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("signature store compaction: one sorted file per bucket, same answers") {
    import org.apache.spark.sql.functions.col
    val tuneA = "autumn winds carry golden leaves across the quiet valley where shepherds guide their flocks home before the early mountain dusk settles"
    try {
      Dedup.writeSignatureStore(docs(1L -> base, 3L -> far), "sigcomp", 4)
      Dedup.signatureStore("sigcomp", 0.5).ingest(spark, docs(10L -> tuneA))
      Dedup.signatureStore("sigcomp", 0.5).ingest(spark, docs(11L -> "completely novel content about glaciers carving deep valleys through ancient granite mountains over countless millennia"))
      def bandsFiles(): Int =
        graft.sources.BucketedStore.stats(spark, "sigcomp_bands").files
      val nBefore = bandsFiles()
      assert(nBefore >= 10, s"3 writes x 4 buckets (minus empty) expected ~12 files, got $nBefore")
      val before = Dedup.signatureStore("sigcomp", 0.5).matches(spark, docs(20L -> near))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Dedup.signatureStore("sigcomp", 0.5).compact(spark)
      assert(bandsFiles() <= 4, s"at most one file per bucket after compaction, got ${bandsFiles()}")
      val after = Dedup.signatureStore("sigcomp", 0.5).matches(spark, docs(20L -> near))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after === before && after === Set((20L, 1L)))
      // still a bucketed table (the zero-exchange contract survives)
      val probe = spark.table("sigcomp_bands").groupBy(col("skey")).count()
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(plan.contains("Bucketed: true"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
    } finally {
      spark.sql("DROP TABLE IF EXISTS sigcomp_bands")
      spark.sql("DROP TABLE IF EXISTS sigcomp_shingles")
      spark.sql("DROP TABLE IF EXISTS sigcomp_bands_compact")
      spark.sql("DROP TABLE IF EXISTS sigcomp_shingles_compact")
    }
  }

  test("connectedComponents: chain merges, disjoint stays split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds) + island 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) === 1L && comps(2L) === 1L && comps(3L) === 1L && comps(4L) === 1L)
    assert(comps(10L) === 10L && comps(11L) === 10L)
  }

  test("connectedComponents: batched convergence probes yield identical labels") {
    import spark.implicits._
    // 16-node chain + island: several contraction rounds, so the
    // batched probe (every 4th round) skips real mid-run checks and
    // may overrun the fixpoint by no-op rounds — labels must match
    // the per-round-probe run exactly, and a budget that ends between
    // probes must still settle convergence instead of throwing
    val edges = ((0L until 15L).map(i => (i, i + 1)) :+ (100L, 101L))
      .toDF("id_a", "id_b")
    def labelsOf(checkEvery: Int, maxIter: Int = 30) =
      Dedup.connectedComponents(edges, maxIter, checkEvery)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = labelsOf(1)
    assert(labelsOf(4) === base)
    // post-loop settle: a single-edge graph converges after 1 round;
    // checkEvery=5 never probes again before the maxIter=2 exit, so
    // convergence must be settled AFTER the loop (no spurious throw)
    val island = Seq((100L, 101L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(island, maxIter = 2,
        convergenceCheckEvery = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(100L -> 100L, 101L -> 100L))
  }

  test("connectedComponentsBounded: driver fast path equals distributed CC; ceiling forces fallback; empty edges -> empty labels") {
    import spark.implicits._
    // chain + island + a cross edge arriving "late" in row order (the
    // union-find must re-root through path compression)
    val edges = Seq((3L, 4L), (1L, 2L), (2L, 3L), (10L, 11L), (4L, 1L))
      .toDF("id_a", "id_b")
    def toMapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = toMapOf(Dedup.connectedComponents(edges))
    // fast path (well under the ceiling)
    assert(toMapOf(Dedup.connectedComponentsBounded(edges)) === dist)
    // ceiling of 0 forces the distributed fallback — same labels
    assert(toMapOf(Dedup.connectedComponentsBounded(edges, 0)) === dist)
    // boundary: exactly at the ceiling stays on the driver path
    assert(toMapOf(Dedup.connectedComponentsBounded(edges, 5)) === dist)
    // empty merge graph (the common ingest case the old isEmpty probe
    // special-cased): empty (id, lab) frame, no throw
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponentsBounded(none).count() === 0L)
  }

  test("connectedComponentsBounded: random graphs match a naive min-propagation fixpoint (and distributed CC on a sample)") {
    import spark.implicits._
    // naive reference: propagate min labels over the edge list until
    // fixpoint — the definition of min-label components
    def naive(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      var lab = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> n).toMap
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b) =>
          val m = math.min(lab(a), lab(b))
          if (lab(a) != m) { lab += a -> m; changed = true }
          if (lab(b) != m) { lab += b -> m; changed = true }
        }
      }
      lab
    }
    val rnd = new scala.util.Random(42)
    // small node domain (0..15) forces dense merge patterns: chains,
    // cycles, duplicate edges, self-loops, singleton islands
    def randEdges(): Seq[(Long, Long)] =
      Seq.fill(rnd.nextInt(24))((rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
    (0 until 40).foreach { i =>
      val edges = randEdges()
      if (edges.nonEmpty) {
        val df = edges.toDF("id_a", "id_b")
        val got = Dedup.connectedComponentsBounded(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === naive(edges), s"sample $i: $edges")
        if (i < 3) { // distributed parity on a few samples (costly)
          val dist = Dedup.connectedComponents(df)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got === dist, s"sample $i vs distributed: $edges")
        }
      }
    }
  }

  test("connectedComponents: reliable checkpoint path (executor-loss replay shape)") {
    import spark.implicits._
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      // 32-node chain: diameter 31 needs several pointer-halving rounds,
      // each cut with a RELIABLE checkpoint when a dir is configured
      val edges = (0L until 31L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val comps = Dedup.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comps.size === 32 && comps.values.forall(_ === 0L))
      // the reliable path must actually have written checkpoint data
      // (setCheckpointDir itself pre-creates a UUID subdir — look for
      // the rdd part-files a real checkpoint produces)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(sc.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var found = false
      while (it.hasNext && !found)
        found = it.next().getPath.getName.startsWith("part-")
      assert(found, s"checkpoint dir $dir should contain rdd part-files")
    } finally {
      sc.setCheckpointDir(null) // restore the localCheckpoint default for other specs
    }
  }

  test("d18 canonical: longest copy survives per cluster, singletons self-canonical") {
    import spark.implicits._
    // vecs 1 and 2 identical (cos 1.0 → same cluster), vec 3 far away
    val e = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val d = Seq((1L, 10L), (2L, 99L), (3L, 7L)).toDF("doc_id", "n_chars")
    val got = Dedup.canonicalPerCluster(e, d, 0.9).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // cluster 1 = {1,2}: doc 2 is longer → canonical; 3 is a singleton
    assert(got(1L) === ((2L, 2L, 99L)))
    assert(got(3L) === ((1L, 3L, 7L)))
    assert(got.size === 2)
  }

  test("t23 systematic sample: sum of copies is exactly k, zero weights never picked, matches one-window walk") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, expr, sum}
    val w = Seq((1L, 5L), (2L, 0L), (3L, 50L), (4L, 1L), (5L, 25L),
      (6L, 19L), (7L, 0L), (8L, 100L)).toDF("doc_id", "w")
    val got = graft.operators.TextOps.systematicWeightedSample(w, 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got.map(_._3).sum === 10L, "sum(copies) must be exactly k")
    assert(!got.exists(g => g._1 == 2L || g._1 == 7L), "zero-weight doc picked")
    // heavy doc (half the mass) must carry multiple copies
    assert(got.find(_._1 == 8L).exists(_._3 >= 4L))
    // two-phase bucket plan == the textbook single global window
    val tw = 200L
    val naive = w.withColumn("h",
        expr("(doc_id % 1000003) * 427799 % 1000003"))
      .withColumn("cum", sum(col("w")).over(Window.orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("copies",
        expr(s"(cum * 10L) div ${tw}L - ((cum - w) * 10L) div ${tw}L"))
      .filter(col("copies") >= 1L)
      .select(col("doc_id"), col("w"), col("copies"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.toSet === naive, "bucketed walk diverged from the global window")
  }

  test("d17 mixture: two-phase histogram plan selects exactly the naive window's rows") {
    val docs = graft.sources.Tables.documents(spark, GraftTestSession.sf)
    val fast = Dedup.mixtureSample(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val naive = Dedup.mixtureSampleNaive(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(fast === naive, "two-phase selection diverged from the window cum-sum rule")
    assert(fast.nonEmpty)
    // budget bound: per-source selected tokens never exceed the
    // source's integer-arithmetic budget share
    val perSrc = fast.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val base = docs.selectExpr("source",
      "size(split(trim(text), ' ')) AS tok",
      "CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 4 + 1 AS w")
    val t = base.selectExpr("sum(tok)").head().getLong(0)
    val ws = base.select("source", "w").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wTot = ws.values.sum
    perSrc.foreach { case (src, tokSum) =>
      assert(tokSum <= ws(src) * t / (4 * wTot), s"$src exceeded its budget")
    }
  }

  test("d17 mixture: user-supplied skewed weights table drives the split") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, GraftTestSession.sf)
    val srcs = docs.select("source").distinct().collect()
      .map(_.getString(0)).sorted
    assert(srcs.length >= 2, s"need 2+ sources, got ${srcs.toSeq}")
    // heavily skewed user recipe: first source dominates 10:1, any
    // further sources excluded entirely (no weight row = not in mix)
    val weights = Seq(srcs(0) -> 10L, srcs(1) -> 1L).toDF("source", "w")
    val fast = Dedup.mixtureSample(docs, weights, 1L, 4L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val naive = Dedup.mixtureSampleNaive(docs, weights, 1L, 4L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(fast === naive, "two-phase selection diverged under user weights")
    val bySrc = fast.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(bySrc.keySet.subsetOf(Set(srcs(0), srcs(1))),
      s"weightless sources must not appear: ${bySrc.keySet}")
    // budget shares follow the user's 10:1 recipe over the corpus total
    val t = docs.selectExpr("sum(size(split(trim(text), ' ')))").head().getLong(0)
    assert(bySrc(srcs(0)) <= 10L * t / (4L * 11L))
    assert(bySrc(srcs(1)) <= t / (4L * 11L))
    // the dominant source actually uses its larger share
    assert(bySrc(srcs(0)) > bySrc(srcs(1)))
  }

  test("d24 mixtureUpsample: exact rational epochs, remainder hash slice, copies spread shards") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = ((0L until 100L).map(i => (i, "a", s"t$i")) ++
      (100L until 120L).map(i => (i, "b", s"t$i")) ++
      (200L until 210L).map(i => (i, "c", s"t$i")))
      .toDF("doc_id", "source", "text")
    // a at 5/2 epochs, b at 1; c has NO weight row -> not in the mix
    val w = Seq(("a", 5L, 2L), ("b", 1L, 1L)).toDF("source", "w_num", "w_den")
    val out = Dedup.mixtureUpsample(docs, w)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    // b: exactly one copy each; c absent entirely
    (100L until 120L).foreach(i => assert(byDoc(i) === Seq(0L)))
    assert(!out.exists(_._2 == "c"))
    // a: 2 or 3 copies, the extra copy going EXACTLY to the docs the
    // hash slice selects (knuth(id) mod 2 < 1), copy indices 0..n-1
    def knuth(id: Long) = id % 1000003L * 427799L % 1000003L
    (0L until 100L).foreach { i =>
      val expected = if (knuth(i) % 2 < 1) 3 else 2
      assert(byDoc(i) === (0L until expected.toLong),
        s"doc $i: ${byDoc(i)} (knuth ${knuth(i)})")
    }
    // the built-in mix_key must SPREAD one doc's copies across shards
    // (keying the shard writer on doc_id would put repeated epochs
    // back-to-back at one shuffle position)
    val path = java.nio.file.Files.createTempDirectory("graft-upsh").toString + "/sh"
    graft.sources.Sinks.writeTrainingShards(
      Dedup.mixtureUpsample(docs, w), path, 4, key = "mix_key")
    // shard identity = the physical file (read-partition fusion would
    // alias spark_partition_id across files)
    val shards = spark.read.parquet(path)
      .withColumn("shard", input_file_name())
    val spread = shards.groupBy(col("doc_id"))
      .agg(countDistinct(col("shard")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(spread > 50, s"copies of the same doc should span shards, spread=$spread")
  }

  test("d23 temperatureWeights: exact isqrt of source token mass, flattening lifts the tail share") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val big = (1L to 64L).map(i => (i, "w " * 32 + "end", "srcA"))
    val small = (100L to 103L).map(i => (i, "w w w end", "srcB"))
    val docs = (big ++ small).toDF("doc_id", "text", "source")
    def wmap(h: Int) = graft.operators.Dedup.temperatureWeights(docs, h)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tok = docs.select(col("source"),
        size(split(trim(col("text")), " ")).cast("long").as("t"))
      .groupBy("source").agg(sum("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w1 = wmap(1)
    assert(w1("srcA") === math.sqrt(tok("srcA").toDouble).toLong)
    assert(w1("srcB") === math.sqrt(tok("srcB").toDouble).toLong)
    // α=1/2 flattens: weight ratio strictly below the raw token ratio
    val raw = tok("srcA").toDouble / tok("srcB")
    val flat1 = w1("srcA").toDouble / w1("srcB")
    val w2 = wmap(2)
    val flat2 = w2("srcA").toDouble / w2("srcB")
    assert(flat1 < raw && flat2 < flat1,
      s"flattening must be monotone in halvings: raw=$raw a=$flat1 a2=$flat2")
  }

  test("d21 weightedSystematicSample equals the single-window stride rule; nTicks ticks covered") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val docs = graft.sources.Tables.documents(spark, GraftTestSession.sf)
    val nTicks = 16L
    val fast = Dedup.weightedSystematicSample(docs, nTicks).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // independent naive formulation: ONE global window, same constants
    val tok = size(split(trim(col("text")), " ")).cast("long")
    val h = pmod(pmod(col("doc_id"), lit(1000003L)) * lit(427799L), lit(1000003L))
    val cum = docs.select(col("doc_id"), tok.as("w"), h.as("h"))
      .withColumn("cum", sum(col("w")).over(
        Window.orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val total = docs.select(sum(tok)).head().getLong(0)
    val stride = total / nTicks
    val naive = cum
      .filter(expr(s"cum div $stride") > expr(s"(cum - w) div $stride"))
      .select("doc_id", "w", "cum")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fast === naive, "bucket-parallel selection diverged from the single-window rule")
    // the ticks partition: summed tick coverage over selected spans is exactly nTicks
    val ticks = fast.toSeq.map { case (_, w, c) => c / stride - (c - w) / stride }.sum
    assert(ticks === nTicks, s"expected $nTicks ticks covered, got $ticks")
  }

  test("d22 tokenBudgetSelect equals the single-window greedy rule and respects the budget") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val docs = graft.sources.Tables.documents(spark, GraftTestSession.sf)
    val fast = Dedup.tokenBudgetSelect(docs, 1L, 5L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val tok = size(split(trim(col("text")), " ")).cast("long")
    val total = docs.select(sum(tok)).head().getLong(0)
    val budget = total / 5L
    val naive = docs.select(col("doc_id"), col("n_chars"), tok.as("w"))
      .withColumn("cum", sum(col("w")).over(
        Window.orderBy(desc("n_chars"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum") <= budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(fast === naive, "bucket-parallel greedy selection diverged from the single-window rule")
    assert(fast.nonEmpty && fast.map(_._4).max <= budget)
    // greedy means the kept set is exactly the top docs by (n_chars desc, doc_id)
    val keptIds = fast.map(_._1)
    val order = docs.select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, nc) => (-nc, id) }.map(_._1)
    assert(order.take(keptIds.size).toSet === keptIds, "kept set is not a prefix of the quality order")
  }
}
