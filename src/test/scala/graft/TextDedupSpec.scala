package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Multimodal, TextOps}
import graft.sources.Tables

class TextDedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def docs = Tables.documents(spark, sf)

  /** Corpus with planted exact + near duplicates. */
  private lazy val planted = {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    Seq(
      (1L, base, "en", "src0", base.length.toLong),
      (2L, base, "en", "src0", base.length.toLong),                    // exact dup of 1
      (3L, base.replace("lazy", "hazy"), "en", "src0", base.length.toLong), // near dup
      (4L, "completely different words about spark shuffles and partitions yes", "en", "src0", 60L),
      (5L, "el rapido zorro marron salta sobre el perro perezoso de la casa", "es", "src0", 60L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("exact dedup flags planted exact duplicate, not near-dup") {
    val r = Dedup.exact(planted).collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(r(2L) === true)   // dup of doc 1
    assert(r(1L) === false && r(3L) === false && r(4L) === false)
  }

  test("minhash LSH finds exact and near duplicates as candidate pairs") {
    val pairs = Dedup.minhashPairs(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "exact dup must collide in every band")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      "one-word edit should collide in at least one of 4 bands")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc must not pair")
  }

  test("jaccard: identical docs score 1.0, ranked first") {
    val top = Dedup.jaccardTop(planted).head()
    assert((top.getLong(0), top.getLong(1)) === ((1L, 2L)))
    assert(top.getDouble(4) === 1.0)
  }

  test("minhash estimate: exact dups estimate 1.0; estimates track exact jaccard") {
    val est = Dedup.minhashEstimate(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // identical docs agree on every component
    assert(est((1L, 2L)) === ((12L, 1.0)))
    // the one-word near-dup agrees on most but not necessarily all
    val nd = est.collectFirst { case (p, v) if p._2 == 3L || p._1 == 3L => v }
    assert(nd.exists(v => v._1 >= 6L && v._1 <= 12L))
    // corpus-wide calibration against the TRUE char-5-shingle jaccard
    // (what minhash actually estimates — jaccardTop's token 3-grams
    // are a different measure). Candidates exist BECAUSE a band
    // collided, so n_equal ≥ 3 structurally and low-J false positives
    // read inflated (the diagnostic's point) — assert the structural
    // floor, that high-similarity pairs estimate high, and a loose
    // mean-error bound over the candidate population
    val texts = docs.select(lower(trim(col("text"))).as("nt"), col("doc_id"))
      .collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    def shingles(s: String) = s.sliding(5).toSet
    val ests = Dedup.minhashEstimate(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getDouble(3)))
    assert(ests.nonEmpty)
    ests.foreach { case (p, nEq, _) =>
      assert(nEq >= 3L, s"pair $p: band collision implies ≥3 equal components")
    }
    val errs = ests.map { case ((a, b), _, e) =>
      val (sa, sb) = (shingles(texts(a)), shingles(texts(b)))
      val j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if (j >= 0.8) assert(e >= 0.5, s"pair ($a,$b): true J $j but est $e")
      math.abs(j - e)
    }
    assert(errs.sum / errs.length <= 0.3,
      s"mean |err| ${errs.sum / errs.length} too high — estimator broken")
  }

  test("simhash: 32-bit signatures; near-dups within small hamming distance") {
    val sigs = Dedup.simhash(planted).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs.values.forall(s => s.length == 32 && s.forall(c => c == '0' || c == '1')))
    assert(sigs(1L) === sigs(2L))
    def hamming(a: String, b: String) = a.zip(b).count(p => p._1 != p._2)
    assert(hamming(sigs(1L), sigs(3L)) <= 6, "one-word edit → few bits flip")
    assert(hamming(sigs(1L), sigs(4L)) > 6, "unrelated doc → many bits differ")
  }

  test("incremental dedup: batch docs already in the corpus (or earlier in batch) are dropped") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val fresh = "completely new arrival text that the corpus has never seen before today"
    // corpus = ids 1,2; batch = ids 3 (dup of corpus), 6 and 9 (dups of
    // each other), 12 (genuinely new)
    val all = Seq(
      (1L, base), (2L, "some other standing corpus document with plenty of words"),
      (3L, base), (6L, fresh), (9L, fresh), (12L, "another unseen document entirely")
    ).map { case (id, txt) => (id, txt, "en", "src0", txt.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val corpus = all.filter(col("doc_id") % 3 =!= 0)
    val batch = all.filter(col("doc_id") % 3 === 0)
    val surv = Dedup.incremental(corpus, batch).collect().map(_.getLong(0))
    assert(surv.toSet === Set(6L, 12L)) // 3 seen in corpus; 9 loses to 6
  }

  test("near-dup incremental admission rejects mutated replicas exact admission misses") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val mutated = base.replace("lazy", "hazy") // near-dup, different fingerprint
    val fresh = "totally unrelated content about distributed query engines and shuffles"
    val all = Seq(
      (1L, base), (2L, "standing corpus second document with plenty of other words here"),
      (3L, mutated), (6L, fresh)
    ).map { case (id, txt) => (id, txt, "en", "src0", txt.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val corpus = all.filter(col("doc_id") % 3 =!= 0)
    val batch = all.filter(col("doc_id") % 3 === 0)
    // exact admission admits the mutation (fingerprints differ)...
    assert(Dedup.incremental(corpus, batch).collect().map(_.getLong(0)).toSet
      === Set(3L, 6L))
    // ...the minhash admission rejects it and keeps only the new doc
    assert(Dedup.incrementalNearDup(corpus, batch).collect().map(_.getLong(0)).toSet
      === Set(6L))
  }

  test("complete admission also collapses near-dup twins INSIDE the batch") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val fresh = "totally unrelated content about distributed query engines and shuffles"
    // batch: 3 near-dups the corpus has (rejected), 6 and 9 near-dup
    // twins of EACH OTHER (new vs corpus — only within-batch clustering
    // catches them), 12 a genuine singleton
    val all = Seq(
      (1L, base), (2L, "standing corpus second document with plenty of other words here"),
      (3L, base.replace("lazy", "hazy")),
      (6L, fresh), (9L, fresh.replace("totally", "wholly")),
      (12L, "one more properly new arrival speaking of different matters entirely")
    ).map { case (id, txt) => (id, txt, "en", "src0", txt.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val corpus = all.filter(col("doc_id") % 3 =!= 0)
    val batch = all.filter(col("doc_id") % 3 === 0)
    // the r5 operator admits BOTH twins — the gap admitNearDup closes
    assert(Dedup.incrementalNearDup(corpus, batch).collect().map(_.getLong(0)).toSet
      === Set(6L, 9L, 12L))
    val admitted = Dedup.admitNearDup(corpus, batch).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(admitted.keySet === Set(6L, 12L), "min-id twin wins, 9 absorbed")
    assert(admitted(6L) === ((2L, 1L)), "6 absorbed its within-batch twin")
    assert(admitted(12L) === ((1L, 0L)))
  }

  test("lang id: stopword profiles separate en from es on real words") {
    val r = TextOps.langId(planted).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(r(1L) === "en")
    assert(r(5L) === "es")
  }

  test("commonness: shared-vocabulary doc scores above rare-vocabulary doc") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val planted = Seq(
      (1L, shared), (2L, shared), (3L, shared),          // common vocabulary
      (4L, "xylophone quixotic zephyr jackdaw vex nymph") // rare vocabulary
    ).map { case (id, txt) => (id, txt, "en", "src0", txt.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.commonness(planted).collect()
      .map(x => x.getLong(0) -> x.getDouble(5)).toMap
    assert(r(1L) === 0.75)  // every token in 3 of 4 docs
    assert(r(4L) === 0.25)  // every token in 1 of 4 docs
  }

  test("text stats: ratios bounded, token counts positive on corpus") {
    val s = TextOps.textStats(docs).cache()
    assert(s.filter(col("n_tokens") <= 0).count() === 0)
    assert(s.filter(col("stopword_ratio") < 0 || col("stopword_ratio") > 1).count() === 0)
    assert(s.filter(col("punct_ratio") < 0 || col("punct_ratio") > 1).count() === 0)
    s.unpersist()
  }

  test("native text expressions: generated code compiles and agrees with interpreted eval") {
    // CODEGEN_ONLY makes a janino failure throw instead of silently
    // falling back — this is the proof the doGenCode bodies are valid.
    val probe = docs.limit(200)
    def all() = {
      val a = Dedup.simhash(probe).collect().toSeq
      val b = Dedup.minhashBands(probe).collect().toSeq
      val d = TextOps.langId(probe).collect().toSeq
      val c = probe.select(col("doc_id"),
        graft.functions.TextExpressions.rollingHash31(lower(trim(col("text")))).as("h"),
        graft.functions.TextExpressions.charCounts(lower(trim(col("text")))).as("cc"))
        .orderBy("doc_id").collect().toSeq
      (a, b, c, d)
    }
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "CODEGEN_ONLY")
      val gen = all()
      spark.conf.set(key, "NO_CODEGEN")
      val interp = all()
      assert(gen === interp)
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("decontaminate: ubiquitous boilerplate gram is df-capped, true contamination survives") {
    // Learn which md5 buckets doc ids 1..60 land in, then plant docs on
    // both sides of the train/held-out split.
    val buckets = TextOps.split_assign(
        (1L to 60L).map(i => (i, "x", "en", "s", 1L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val trainIds = (1L to 60L).filter(buckets(_) < 8)
    val evalIds = (1L to 60L).filter(buckets(_) >= 8)
    assert(trainIds.size >= 21 && evalIds.size >= 6, "need both splits populated")

    // Every doc opens with the same 8-token boilerplate (license-header
    // analogue); one train/eval pair additionally shares a secret 8-gram
    // (real leakage).
    val boiler = "alpha bravo charlie delta echo foxtrot golf hotel"
    val secret = "corge grault garply waldo fred plugh xyzzy thud"
    val (x, y) = (trainIds.head, evalIds.head)
    val corpus = (
      trainIds.tail.take(20).map(id => (id, s"$boiler unique$id")) ++
        evalIds.tail.take(5).map(id => (id, s"$boiler unique$id")) ++
        Seq((x, s"$boiler $secret"), (y, s"$boiler $secret")))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    // Uncapped: the boilerplate gram alone pairs every train doc with
    // every eval doc — the quadratic blow-up the cap exists to stop.
    val uncapped = TextOps.decontaminate(corpus, 8, maxGramDf = 1000000)
    assert(uncapped.count() === 21L * 6L)

    // Capped below the boilerplate df (27): only the secret-gram pair
    // survives, with the boilerplate gram excluded from its count.
    val capped = TextOps.decontaminate(corpus, 8, maxGramDf = 5).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((x, y)))
    assert(capped.head.getLong(2) === 8L) // 16 tokens → 9 grams, minus the capped one
  }

  test("contamination matrix: planted cross-source leak lands in the right cell") {
    val buckets = TextOps.split_assign(
        (1L to 60L).map(i => (i, "x", "en", "s", 1L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val trainIds = (1L to 60L).filter(buckets(_) < 8)
    val evalIds = (1L to 60L).filter(buckets(_) >= 8)
    val secret = "corge grault garply waldo fred plugh xyzzy thud"
    val (x, y, y2) = (trainIds.head, evalIds.head, evalIds(1))
    // one web-crawl train doc leaks into TWO benchmark eval docs;
    // unrelated docs in both sources stay clean
    val corpus = (
      Seq((x, s"prefix tokens $secret", "web"),
        (y, s"other start $secret", "bench"),
        (y2, s"third enter $secret", "bench")) ++
        trainIds.tail.take(5).map(id => (id, s"clean train only$id", "web")) ++
        evalIds.drop(2).take(3).map(id => (id, s"clean eval only$id", "bench")))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = TextOps.contaminationMatrix(corpus).collect()
    assert(m.length === 1)
    val r = m.head
    assert(r.getString(0) === "web" && r.getString(1) === "bench")
    assert(r.getLong(2) === 2L, "two leaked pairs")       // n_pairs
    assert(r.getLong(3) === 1L && r.getLong(4) === 2L)    // distinct docs
    // each pair shares exactly the secret's 8-gram (1 gram)
    assert(r.getLong(5) === 2L && r.getLong(6) === 1L)
    // rollup totals agree with the pair-level output it rides
    val pairTotal = TextOps.decontaminate(corpus).agg(sum("n_shared_grams"))
      .collect().head.getLong(0)
    assert(pairTotal === r.getLong(5))
  }

  test("decontaminate_bloom equals decontaminate, even with a tiny saturated filter") {
    val docs = Tables.documents(spark, sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val exact = TextOps.decontaminate(docs).collect().map(key).toSet
    // default filter: the production shape
    val bloom = TextOps.decontaminateBloom(docs).collect().map(key).toSet
    assert(bloom === exact)
    // 2^10-bit filter is hopelessly saturated (FP rate ≈ 1) — every
    // train gram passes the prefilter, and the result must STILL be
    // exact because the confirm join removes false positives. This is
    // the correctness-independent-of-filter-size contract.
    val saturated = TextOps.decontaminateBloom(docs, log2Bits = 10).collect().map(key).toSet
    assert(saturated === exact)
  }

  test("quality verdict equals the AND of its four source signals") {
    val docs = Tables.documents(spark, sf)
    val v = TextOps.qualityVerdict(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("gopher_keep"), r.getAs[Boolean]("is_repetitive"),
          r.getAs[Boolean]("entropy_ok"), r.getAs[Boolean]("gate_keep"),
          r.getAs[Boolean]("keep")))).toMap
    val g = TextOps.gopherQuality(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    val rep = TextOps.repetition(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_repetitive")).toMap
    val q = TextOps.qualityGate(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("kept")).toMap
    assert(v.nonEmpty)
    v.foreach { case (id, (gk, rp, eo, qk, keep)) =>
      assert(gk === g(id) && rp === rep(id) && qk === q(id), s"signal drift for doc $id")
      assert(keep === (gk && !rp && eo && qk), s"composite rule broken for doc $id")
    }
  }

  test("approx vocabulary matches the exact top-N on the fixture") {
    val docs = Tables.documents(spark, sf)
    // fixture vocabulary is far below maxItemsTracked, so the sketch
    // is exact here: same tokens, same counts
    val exact = TextOps.vocabulary(docs, 50).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val approx = TextOps.vocabularyApprox(docs, 50).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (tok, n) => assert(n === exact(tok), s"count for '$tok'") }
  }

  test("multimodal: expression path and mapPartitions decode stub agree") {
    val meta = Multimodal.mediaMeta(docs).select("doc_id", "width", "height")
    val decoded = Multimodal.decodeBatch(spark, docs)
      .select(col("doc_id"), col("width").cast("long"), col("height").cast("long"))
    assert(meta.exceptAll(decoded).count() === 0)
    assert(decoded.exceptAll(meta).count() === 0)
  }

  test("multimodal: REAL PNG/JPEG payloads decode to actual dimensions and intensity") {
    import java.awt.image.BufferedImage
    def imageBytes(format: String, w: Int, h: Int, rgb: (Int, Int, Int)): Array[Byte] = {
      val bi = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = bi.createGraphics()
      g.setColor(new java.awt.Color(rgb._1, rgb._2, rgb._3))
      g.fillRect(0, 0, w, h)
      g.dispose()
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, format, baos), s"no $format writer")
      baos.toByteArray
    }
    // uniform rgb(30,60,90) → mean per-pixel luminance (30+60+90)/3 = 60
    val png = imageBytes("png", 20, 10, (30, 60, 90))
    val jpg = imageBytes("jpg", 8, 6, (30, 60, 90))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.BinaryType)))
    val payloads = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, png),
        org.apache.spark.sql.Row(2L, jpg)),
      schema)

    // decodeBatch: the javax.imageio path reports the true pixel grid
    val dec = Multimodal.decodeBatch(spark, payloads).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4))))
      .toMap
    assert(dec(1L)._1 === 20 && dec(1L)._2 === 10 && dec(1L)._3 === 3)
    assert(dec(1L)._4 === 60.0) // PNG is lossless: exact mean luminance
    assert(dec(2L)._1 === 8 && dec(2L)._2 === 6)
    assert(math.abs(dec(2L)._4 - 60.0) < 3.0) // JPEG quantization tolerance

    // mediaMeta: magic sniff names the container, PNG IHDR parse gives
    // the true dimensions without touching a pixel
    val meta = Multimodal.mediaMeta(payloads).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(meta(1L) === (("png", 20L, 10L)))
    assert(meta(2L)._1 === "jpeg") // dimensions stay stub (no IHDR in JFIF)
  }

  test("image dHash (r15): signatures bit-equal an independent reference " +
    "on REAL PNGs and the stub path; banding finds the perturbed twin") {
    import java.awt.image.BufferedImage
    // independent driver-side reference (the refTrain convention): the
    // 9x8 center-sampled grid, r+g+b gray, adjacent-compare bits —
    // implemented with its own loops against the contract
    def refDhash(gray: (Int, Int) => Int): Long =
      (for (gy <- 0 until 8; gx <- 0 until 8
            if gray(gx + 1, gy) > gray(gx, gy))
        yield 1L << (gy * 8 + gx)).foldLeft(0L)(_ | _)
    def refImage(bi: BufferedImage): Long = refDhash { (gx, gy) =>
      val rgb = bi.getRGB((2 * gx + 1) * bi.getWidth / 18,
        (2 * gy + 1) * bi.getHeight / 16)
      ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
    }
    def refStub(p: Array[Byte]): Long =
      if (p.isEmpty) 0L
      else refDhash((gx, gy) => p((gy * 9 + gx) % p.length) & 0xff)
    def pngBytes(paint: BufferedImage => Unit): Array[Byte] = {
      val bi = new BufferedImage(64, 48, BufferedImage.TYPE_INT_RGB)
      paint(bi)
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, "png", baos), "no png writer")
      baos.toByteArray
    }
    def gradient(bi: BufferedImage): Unit =
      for (y <- 0 until 48; x <- 0 until 64)
        bi.setRGB(x, y, new java.awt.Color(x * 3, x * 3, x * 3).getRGB)
    // base: ascending-x gradient (every adjacent grid compare rises);
    // twin: ONE sampled pixel brightened — exactly one gradient sign
    // flips; distinct: descending gradient (every compare falls)
    val base = pngBytes(gradient)
    val twin = pngBytes { bi =>
      gradient(bi)
      bi.setRGB(3, 3, new java.awt.Color(250, 9, 9).getRGB)
    }
    val distinct = pngBytes { bi =>
      for (y <- 0 until 48; x <- 0 until 64)
        bi.setRGB(x, y, new java.awt.Color((63 - x) * 3, (63 - x) * 3,
          (63 - x) * 3).getRGB)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.BinaryType)))
    val payloads = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, base),
        org.apache.spark.sql.Row(2L, twin),
        org.apache.spark.sql.Row(3L, distinct)),
      schema)
    // bit-equality of every REAL-decode signature with the reference
    val want = Map(
      1L -> refImage(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(base))),
      2L -> refImage(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(twin))),
      3L -> refImage(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(distinct))))
    val got = Multimodal.decodeBatch(spark, payloads).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(got === want)
    // the fixture's shape: base is all-ones (every compare rises),
    // the twin differs in EXACTLY the one flipped bit, the distinct
    // image is maximally far
    assert(got(1L) === -1L, "ascending gradient must set all 64 bits")
    assert(java.lang.Long.bitCount(got(1L) ^ got(2L)) === 1)
    assert(java.lang.Long.bitCount(got(1L) ^ got(3L)) > 10)
    // banding: the twin pair surfaces, the distinct image never does
    val pairs = Multimodal.imageNearDup(spark, payloads).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)))
    assert(pairs.head._3 === 1L)
    // stub path on the REAL text fixture: every signature bit-equals
    // the byte-sampling reference, and the registry surface's band
    // keys are the hash's own 16-bit slices
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val sigs = Multimodal.imageDHashSignatures(spark, docs).collect()
    assert(sigs.nonEmpty)
    sigs.foreach { r =>
      val (id, dh) = (r.getLong(0), r.getLong(1))
      assert(dh === refStub(texts(id).getBytes("UTF-8")), s"stub dhash doc $id")
      (0 until 4).foreach(b =>
        assert(r.getLong(2 + b) === ((dh >>> (16 * b)) & 0xffffL)))
    }
  }

  test("image admission (r15): batch admits against a standing signature " +
    "index — corpus twins rejected, batch twins smaller-id-dominated, " +
    "admitted set pairwise non-near-dup") {
    import java.awt.image.BufferedImage
    def pngBytes(paint: BufferedImage => Unit): Array[Byte] = {
      val bi = new BufferedImage(64, 48, BufferedImage.TYPE_INT_RGB)
      paint(bi)
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, "png", baos), "no png writer")
      baos.toByteArray
    }
    def fill(f: Int => Int)(bi: BufferedImage): Unit =
      for (y <- 0 until 48; x <- 0 until 64)
        bi.setRGB(x, y, new java.awt.Color(f(x), f(x), f(x)).getRGB)
    val ascending = pngBytes(fill(x => x * 3))           // dhash all-ones
    val ascTwin = pngBytes { bi =>
      fill(x => x * 3)(bi)
      bi.setRGB(3, 3, new java.awt.Color(250, 9, 9).getRGB)  // 1 bit off
    }
    val descending = pngBytes(fill(x => (63 - x) * 3))   // dhash all-zeros
    val descTwin = pngBytes { bi =>
      fill(x => (63 - x) * 3)(bi)
      bi.setRGB(3, 3, new java.awt.Color(250, 9, 9).getRGB)
    }
    val stripes = pngBytes(fill(x => if ((x / 7) % 2 == 0) 30 else 200))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.BinaryType)))
    def df(rows: (Long, Array[Byte])*) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, b) =>
        org.apache.spark.sql.Row(id, b) }: _*), schema)
    // standing corpus: the ascending gradient only
    val corpusSigs = Multimodal.imageDHashSignatures(spark, df(1L -> ascending))
    // batch: a corpus twin (reject), a fresh image (admit), its OWN
    // in-batch twin (reject — smaller-id dominance), an independent
    // third pattern (admit)
    val batch = df(10L -> ascTwin, 11L -> descending, 12L -> descTwin,
      13L -> stripes)
    val admitted = Multimodal.imageAdmit(spark, corpusSigs, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(admitted.keySet === Set(11L, 13L),
      s"expected {11, 13} admitted, got ${admitted.keySet}")
    // the admitted set is pairwise non-near-dup by contract
    assert(java.lang.Long.bitCount(admitted(11L) ^ admitted(13L)) > 10)
    // fixture smoke over the stub path: odd-id batch vs even-id corpus
    // index — the registry staging; every admitted pair ≥ maxHamming
    // apart (driver-verified over the collected signatures)
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 =!= 0)
    val admittedFx = Multimodal
      .imageAdmit(spark, Multimodal.imageDHashSignatures(spark, evens), odds)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(admittedFx.nonEmpty)
    assert(admittedFx.forall { case (id, _) => id % 2 != 0 })
    for (Seq((ia, ha), (ib, hb)) <- admittedFx.toSeq.combinations(2)) {
      // pairwise property holds only for pairs that SHARE a band
      // (banding is the candidate generator, exact for hamming <= 3);
      // assert the full verified contract: any shared-band pair is
      // > maxHamming apart
      val shareBand = (0 until 4).exists(b =>
        ((ha >>> (16 * b)) & 0xffffL) == ((hb >>> (16 * b)) & 0xffffL))
      if (shareBand)
        assert(java.lang.Long.bitCount(ha ^ hb) > 10,
          s"admitted near-dup pair $ia/$ib survived")
    }
  }

  test("char entropy: known distributions give exact closed-form microbits") {
    import spark.implicits._
    val planted = Seq(
      (1L, "a" * 64),                       // one symbol → 0 bits
      (2L, "ab" * 32),                      // two equiprobable → exactly 1 bit
      (3L, "abcd" * 16))                    // four equiprobable → exactly 2 bits
      .toDF("doc_id", "text")
    val out = TextOps.charEntropy(planted).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5)))).toMap
    assert(out(1L) === ((64L, 1L, 64L, 0L)))
    assert(out(2L) === ((64L, 2L, 32L, 1000000L)))
    assert(out(3L) === ((64L, 4L, 16L, 2000000L)))
    // monotone on the fixture: every doc has positive entropy below
    // log2(alphabet) and the ratio columns are consistent
    val corpus = TextOps.charEntropy(docs).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { r =>
      val (n, k, top, mb) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5))
      assert(mb > 0 && mb <= math.ceil(math.log(k.toDouble) / math.log(2) * 1e6),
        s"entropy outside [0, log2(distinct)] for doc ${r.getLong(0)}")
      assert(top <= n && k <= n)
      assert(math.abs(r.getDouble(4) - top.toDouble / n) < 1e-15)
    }
  }

  // Shared boilerplate block for the passage family's offset tests.
  // Anchor tokens (md5 last nibble '0', verified over exactly the
  // tokens this fixture uses): rain, snow, sand — and uniq14;
  // qq1..qq11, tt1..tt15, and every other uniqK are NON-anchors
  // (r10 ADVICE: the old comment claimed uniq14 was absorbed into the
  // sand chunk and vouched for uu*/qq12+ tokens that never appear).
  // The block's content-defined interior chunks are therefore exactly
  //   A = "rain qq1 qq2 qq3 qq4"  (5 tokens, keyed)
  //   B = "snow qq5 qq6 qq7"      (4 tokens, keyed)
  // in EVERY host, regardless of the host-specific prefix length. The
  // trailing "sand qq8..qq11" chunk absorbs the host's unique suffix
  // for every k EXCEPT 14, where the uniq14 anchor splits it into
  // "sand qq8 qq9 qq10 qq11" (keyed, but df=1: no other doc ends a
  // chunk there) + a lone unkeyed "uniq14" — either way nothing
  // matches across docs, which the k=14 shape assertion below pins.
  private val boilerBlock =
    "rain qq1 qq2 qq3 qq4 snow qq5 qq6 qq7 sand qq8 qq9 qq10 qq11"
  private def offsetHosts(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    (0 to 15).map { k =>
      val prefix = (1 to k).map(i => s"tt$i").mkString(" ")
      val text = (if (k == 0) "" else prefix + " ") + boilerBlock + s" uniq$k"
      (k.toLong, text)
    }.toDF("doc_id", "text")
  }

  test("passage dedup: duplicate block found at EVERY offset k=0..15; sub-minTokens docs have no grain") {
    import spark.implicits._
    val out = TextOps.passageDedup(offsetHosts(spark)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    for (k <- 0L to 15L) {
      // chunks: [prefix (keyed iff k>=4)], A (shared), B (shared),
      // "sand qq8..qq11 uniqK" (unique) — the old fixed windows
      // detected NOTHING for k=1..15
      val nKeyed = if (k >= 4) 4L else 3L
      assert(out(k) === ((nKeyed, 2L, 16L, 2.0 / nKeyed)),
        s"offset-$k host must see both shared interior chunks")
    }
    // sub-minTokens doc: one 3-token chunk → no passage grain
    val tiny = Seq((99L, "qq1 qq2 qq3")).toDF("doc_id", "text")
    assert(TextOps.passageDedup(tiny).count() === 0)
    // fixture: the planted duplicate docs must surface as shared passages
    val corpus = TextOps.passageDedup(docs)
    assert(corpus.filter(col("n_shared_passages") > 0).count() > 0)
  }

  test("incremental decontamination equals the one-shot restricted to batch train docs") {
    val all = TextOps.decontaminate(docs)
    val inc = TextOps.decontaminateIncremental(
      docs.filter(col("doc_id") % 2 =!= 0),
      docs.filter(col("doc_id") % 2 === 0))
    val expected = all.filter(col("train_doc") % 2 === 0)
    assert(inc.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(inc).count() === 0)
    // fixture non-degeneracy: the batch flags some pairs AND the
    // standing corpus holds pairs the batch run must NOT re-emit
    assert(inc.count() > 0)
    assert(all.filter(col("train_doc") % 2 =!= 0).count() > 0)
  }

  test("passage scrub: offset dup survives only in its canonical host; tokens conserve exactly") {
    import spark.implicits._
    val out = TextOps.passageScrub(offsetHosts(spark)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // canonical host (min doc_id = offset-0) keeps the whole block
    assert(out(0L) === ((3L, 0L, 0L, boilerBlock + " uniq0")))
    for (k <- 1L to 15L) {
      // every other host sheds exactly the two shared interior chunks
      // (A: 5 tokens + B: 4 tokens = 9), at ANY offset — the old fixed
      // windows scrubbed nothing for k=1..15
      val nKeyed = if (k >= 4) 4L else 3L
      val prefix = (1L to k).map(i => s"tt$i").mkString(" ")
      assert(out(k) === ((nKeyed, 2L, 9L,
        prefix + " sand qq8 qq9 qq10 qq11 uniq" + k)),
        s"offset-$k host must shed both shared interior chunks")
    }
    // sub-minTokens doc passes through unchanged with no passage grain
    val tiny = Seq((99L, "qq1 qq2 qq3")).toDF("doc_id", "text")
    assert(TextOps.passageScrub(tiny).collect().map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSeq ===
      Seq((0L, 0L, 0L, "qq1 qq2 qq3")))
    // corpus invariants: exact token conservation via n_removed_tokens,
    // and the fixture's planted dups make removal non-degenerate
    val checked = TextOps.passageScrub(docs)
      .join(docs.select(col("doc_id"),
        size(split(lower(trim(col("text"))), " ")).cast("long").as("n_orig")), "doc_id")
      .withColumn("n_scrubbed",
        when(col("scrubbed_text") === "", 0L)
          .otherwise(size(split(col("scrubbed_text"), " ")).cast("long")))
    assert(checked.filter(col("n_scrubbed") =!=
      col("n_orig") - col("n_removed_tokens")).count() === 0)
    assert(checked.filter(col("n_removed") > 0).count() > 0)
  }

  // Verified against the fold's own anchor rule so the generated
  // fixtures below never contain an accidental anchor token.
  private def nonAnchorTokens(n: Int): Seq[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Iterator.from(1).map(i => s"w$i").filter { t =>
      val h = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      h.last != '0'
    }.take(n).toSeq
  }

  test("passage CDC max-bound: anchor-free runs break at exactly 64 tokens (r10 ADVICE)") {
    import spark.implicits._
    val r = nonAnchorTokens(100)
    // docA's forced break must land exactly after token 64: only then
    // does its tail chunk equal docB (= the run's tokens 65..100) —
    // a cap of 63 or 65 shifts docA's tail off docB and shares nothing
    val pair = Seq(
      (0L, r.mkString(" ")),
      (1L, r.drop(64).mkString(" "))).toDF("doc_id", "text")
    val out = TextOps.passageDedup(pair).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4)))).toMap
    assert(out(0L) === ((2L, 1L, 2L, 0.5)),
      "docA: [r1..r64] unique + [r65..r100] shared")
    assert(out(1L) === ((1L, 1L, 2L, 1.0)),
      "docB: its single chunk IS docA's forced tail")
    // and an identical-token run (the 'na na na …' case the uncapped
    // fold was quadratic on) now chunks finitely: 200 copies of one
    // non-anchor token → 64+64+64+8, all keyed, all df=1 in a
    // single-doc corpus
    val mono = Seq((7L, Seq.fill(200)(r.head).mkString(" "))).toDF("doc_id", "text")
    val m = TextOps.passageDedup(mono).collect()
    assert(m.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq ===
      Seq((7L, 4L, 0L)))
  }

  test("passage CDC max-bound: forced chunks stay aligned when the gap starts inside the shared run") {
    import spark.implicits._
    // 150-token anchor-free run prefixed by DIFFERENT anchors in two
    // hosts: the gap start (the anchor) sits at run-offset −1 in
    // both, so the periodic forced breaks land at the SAME run
    // offsets — chunk2 (r64..r127) and chunk3 (r128..r150) are
    // bit-identical across hosts even though chunk1 embeds each
    // host's own anchor. This is the alignment the closed-form
    // oracle restates as (i − gs) % 64.
    val run = nonAnchorTokens(150)
    val pair = Seq(
      (0L, ("rain" +: run).mkString(" ")),
      (1L, ("tt1" +: "snow" +: run).mkString(" "))).toDF("doc_id", "text")
    val out = TextOps.passageDedup(pair).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    // host 0: [rain r1..r63] [r64..r127] [r128..r150]; host 1: the
    // lone unkeyed "tt1" chunk (opened as the doc's first token,
    // closed by the snow anchor), then [snow r1..r63] [r64..r127]
    // [r128..r150]
    assert(out(0L) === ((3L, 2L)), "anchored host: 2 of 3 chunks shared")
    assert(out(1L) === ((3L, 2L)), "offset host: same 2 forced chunks shared")
  }

  test("passage CDC: uniq14 IS an anchor — the k=14 tail splits but matches nothing (r10 ADVICE)") {
    import spark.implicits._
    // pin the shape the offset tests only pass by coincidence: a doc
    // ending "… uniq14" splits its tail into a keyed "sand qq8 qq9
    // qq10 qq11" + lone "uniq14", so a second doc whose own anchor
    // cuts at the same point DOES share the sand chunk with it
    val pair = Seq(
      (0L, "sand qq8 qq9 qq10 qq11 uniq14"),
      (1L, "sand qq8 qq9 qq10 qq11 rain qq1 qq2 qq3")).toDF("doc_id", "text")
    val out = TextOps.passageDedup(pair).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(out(0L) === ((1L, 1L, 2L)),
      "uniq14 starts its own chunk, leaving the sand chunk keyed and shared")
    assert(out(1L) === ((2L, 1L, 2L)))
  }

  test("unigram logloss: closed-form on a planted vocabulary; rare tokens score higher") {
    import spark.implicits._
    // corpus freqs: a=5, b=5, c=1, d=1; total=12
    // round(log2(5)*1e6)=2321928, round(log2(12)*1e6)=3584963
    val planted = Seq(
      (1L, "a a a a"),   // all common  → 3584963 − 2321928
      (2L, "b b b b"),
      (3L, "a b c d"))   // half rare   → 3584963 − (2·2321928)/4
      .toDF("doc_id", "text")
    val out = TextOps.unigramLogloss(planted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((4L, 4L * 2321928L, 3584963L - 2321928L)))
    assert(out(2L) === ((4L, 4L * 2321928L, 3584963L - 2321928L)))
    assert(out(3L) === ((4L, 2L * 2321928L, 3584963L - 1160964L)))
    // the CCNet reading: the rare-vocabulary doc carries more surprisal
    assert(out(3L)._3 > out(1L)._3)
  }

  test("bigram logloss: closed-form on a planted corpus; <2-token docs absent") {
    import spark.implicits._
    // bigram counts: "a b"=3, "b a"=1, "b c"=1, "c c"=1; histories
    // c1(a)=3, c1(b)=2, c1(c)=1; V={a,b,c,z}=4 (the singleton doc
    // contributes vocabulary but no bigrams)
    // nll("a b") = round(log2(3+4)e6) − round(log2(3+1)e6) = 2807355 − 2000000
    // nll("b a") = nll("b c") = round(log2 6·e6) − round(log2 2·e6) = 1584963
    // nll("c c") = round(log2 5·e6) − 1000000 = 1321928
    val planted = Seq(
      (1L, "a b a b"), (2L, "a b c"), (3L, "c c"), (4L, "z"))
      .toDF("doc_id", "text")
    val out = TextOps.bigramLogloss(planted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((3L, 807355L + 1584963L + 807355L, 1066558L)))
    assert(out(2L) === ((2L, 807355L + 1584963L, 1196159L)))
    assert(out(3L) === ((1L, 1321928L, 1321928L)))
    assert(!out.contains(4L), "a single-token doc has no bigrams")
    // the sequence-plausibility reading: the doc made of the corpus's
    // dominant transition scores LOWER surprisal than the rare-pair doc
    assert(out(1L)._3 < out(3L)._3)
    // fixture non-degeneracy: every multi-token doc scored
    val docs = Tables.documents(spark, sf)
    val scored = TextOps.bigramLogloss(docs)
    assert(scored.count() ===
      docs.filter(size(split(lower(trim(col("text"))), " ")) >= 2).count())
  }

  test("lsh recall: identical twins are always caught; fixture recall reported") {
    import spark.implicits._
    // identical texts share every shingle → every band collides → the
    // one true pair MUST be a candidate: recall exactly 1.0
    val long = (1 to 60).map(i => s"tok$i").mkString(" ")
    val planted = Seq((1L, long), (2L, long),
      (3L, (61 to 120).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val p = Dedup.lshRecall(planted, nProbe = 10).collect()(0)
    assert(p.getLong(0) === 1L, "exactly one true pair planted")
    assert(p.getLong(2) === 1L && p.getDouble(3) === 1.0)
    // the deployed-index evaluation on the real corpus: summary sane,
    // hits bounded by both sides, recall reported
    val r = Dedup.lshRecall(Tables.documents(spark, sf)).collect()(0)
    val (nTrue, nCand, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nTrue > 0, "fixture must carry true near-dup pairs in the probe subset")
    assert(nHit <= nTrue && nHit <= nCand)
    info(f"LSH recall@τ=0.5 on ${nTrue} true pairs: ${r.getDouble(3)}%.2f " +
      f"(precision-at-τ ${r.getDouble(4)}%.3f over $nCand candidates)")
  }

  test("perplexity buckets: tertile thresholds greedy-minimal, buckets ordered, kept drops tail") {
    val docs = Tables.documents(spark, sf)
    val r = TextOps.perplexityBuckets(docs).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getString(5), x.getBoolean(6)))
    assert(r.nonEmpty)
    r.groupBy(_._2).foreach { case (lang, rows) =>
      val n = rows.length.toLong
      val (t1, t2) = (rows.head._4, rows.head._5)
      assert(t1 <= t2, s"$lang thresholds must be ordered")
      // bucket-grain greedy minimality: t1 covers >= n/3, and without
      // its own bucket it would not (same for t2 at 2n/3)
      val cumTo = (t: Long) => rows.count(_._3 <= t).toLong
      assert(cumTo(t1) * 3 >= n && (cumTo(t1) - rows.count(_._3 == t1)) * 3 < n)
      assert(cumTo(t2) * 3 >= 2 * n && (cumTo(t2) - rows.count(_._3 == t2)) * 3 < 2 * n)
      // buckets are value-ordered and partition the language
      val byBucket = rows.groupBy(_._6)
      assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
      def scores(b: String): Seq[Long] =
        byBucket.getOrElse(b, Array.empty[(Long, String, Long, Long, Long, String, Boolean)])
          .map(_._3).toSeq
      if (scores("head").nonEmpty && scores("middle").nonEmpty)
        assert(scores("head").max < scores("middle").min)
      if (scores("middle").nonEmpty && scores("tail").nonEmpty)
        assert(scores("middle").max < scores("tail").min)
      // kept <=> not tail
      rows.foreach(x => assert(x._7 === (x._6 != "tail")))
      // fixture non-degeneracy: the corpus actually splits three ways
      assert(byBucket.size === 3, s"$lang degenerate: ${byBucket.keySet}")
    }
  }

  test("kept-fraction knob (r8 #7): non-default fractions validate and cut") {
    val docs = Tables.documents(spark, sf)
    // a kept fraction outside 0 < N <= D fails before any plan is built
    val hist = TextOps.perplexityHistogram(
      Seq(("en", 1L)).toDF("lang", "logloss_microbits"))
    intercept[IllegalArgumentException](TextOps.perplexityThresholds(hist, 5, 4))
    intercept[IllegalArgumentException](TextOps.perplexityThresholds(hist, 0, 3))
    // the gate at 0.4 drops strictly more than the 0.25 default, and
    // per language the drop count respects floor(f·n) exactly (ties
    // at the threshold are KEPT — the documented semantics)
    val g40 = TextOps.qualityGate(docs, 0.4)
    val g25 = TextOps.qualityGate(docs)
    assert(g40.filter(!col("kept")).count() > g25.filter(!col("kept")).count())
    g40.groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("dropped"))
      .collect().foreach { r =>
        assert(r.getLong(2) <= math.floor(0.4 * r.getLong(1)).toLong,
          s"lang ${r.getString(0)}: dropped past the floor")
      }
    // perplexity kept = 1/2: t2 is the greedy-minimal median cut —
    // kept covers ≥ n/2 and would not without its own tie bucket
    val b12 = TextOps.perplexityBuckets(docs, 1, 2).collect()
      .map(x => (x.getString(1), x.getLong(2), x.getLong(4), x.getBoolean(6)))
    b12.groupBy(_._1).foreach { case (lang, rows) =>
      val n = rows.length.toLong
      val t2 = rows.head._3
      val kept = rows.count(_._4).toLong
      assert(kept * 2 >= n, s"$lang: kept below the 1/2 target")
      assert((kept - rows.count(x => x._2 == t2)) * 2 < n,
        s"$lang: t2 not greedy-minimal for kept=1/2")
      assert(kept < n, s"$lang: a 1/2 cut must actually drop a tail")
    }
    // and the default-arg path is bit-identical to an explicit 2/3 —
    // the knob's default changes nothing
    val d1 = TextOps.perplexityBuckets(docs)
    val d2 = TextOps.perplexityBuckets(docs, 2, 3)
    assert(d1.exceptAll(d2).count() === 0)
    assert(d2.exceptAll(d1).count() === 0)
  }

  test("bigram logloss incremental: merged-model scores equal one-shot restricted to batch") {
    val docs = Tables.documents(spark, sf)
    val standing = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    val cont = TextOps.bigramLoglossIncremental(batch,
      TextOps.bigramCounts(standing), TextOps.termCounts(standing))
    val oneShot = TextOps.bigramLogloss(docs).filter(col("doc_id") % 2 =!= 0)
    assert(cont.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(cont).count() === 0)
    assert(cont.count() > 0)
    // count-merge associativity at the state level too: merged tables
    // equal the one-shot tables bit-for-bit
    val mb = TextOps.mergeBigramCounts(
      TextOps.bigramCounts(standing), TextOps.bigramCounts(batch))
    assert(mb.exceptAll(TextOps.bigramCounts(docs)).count() === 0)
    val mt = TextOps.mergeTermCounts(
      TextOps.termCounts(standing), TextOps.termCounts(batch))
    assert(mt.exceptAll(TextOps.termCounts(docs)).count() === 0)
  }

  test("gopher rules: each rule trips on its planted violation") {
    import spark.implicits._
    val good = (Seq("the", "sun", "and", "hills") ++
      Seq.fill(23)(Seq("wind", "river", "stone", "light")).flatten).mkString(" ")
    val planted = Seq(
      (1L, good),                                  // passes all five
      (2L, "the and " + Seq.fill(48)("xy").mkString(" ")), // 50 words, mean len 2.16 → r_word_len fails
      (3L, good + " " + Seq.fill(30)("...").mkString(" ")), // ellipsis spam → r_symbols fails
      (4L, "the and " + (1 to 48).map(_.toString).mkString(" ")), // digits → r_alpha fails
      (5L, Seq.fill(60)("wind river stone").mkString(" "))) // no stopwords → r_stopwords fails
      .toDF("doc_id", "text")
    val out = TextOps.gopherQuality(planted).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(11), "good doc must keep")
    assert(!out(2L).getBoolean(7) && !out(2L).getBoolean(11), "short words")
    assert(!out(3L).getBoolean(8) && !out(3L).getBoolean(11), "symbol spam")
    assert(!out(4L).getBoolean(9) && !out(4L).getBoolean(11), "non-alpha words")
    assert(!out(5L).getBoolean(10) && !out(5L).getBoolean(11), "no stopwords")
  }

  test("short docs survive every gram/shingle operator (sequence-descend regression)") {
    // Docs shorter than the gram/shingle width used to feed slice/
    // element_at a 0 index (Spark sequence(1, 0) descends) and KILL
    // the task; 2-4 char docs also produced phantom negative-offset
    // shingles. A 100 TB corpus always contains these.
    val long1 = "one two three four five six seven eight nine ten eleven twelve"
    val shorts = Seq(
      (1L, "hi", "en", "src0", 2L),                   // < one shingle
      (2L, "two words", "en", "src0", 9L),            // < one 3-gram
      (3L, "three whole words here", "en", "src0", 22L), // < one 8-gram
      (4L, long1, "en", "src0", long1.length.toLong),
      (5L, long1, "en", "src1", long1.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // none of these may throw; short docs contribute no grams
    assert(TextOps.decontaminate(shorts).collect() !== null)
    assert(TextOps.decontaminateBloom(shorts).collect() !== null)
    assert(TextOps.decontaminateIncremental(
      shorts.filter($"doc_id" > 2), shorts.filter($"doc_id" <= 2)).collect() !== null)
    val rep = TextOps.repetition(shorts).collect().map(r => r.getLong(0) -> r).toMap
    assert(rep.size === 5)
    assert(rep(1L).getLong(1) === 0L, "no bigrams from a 1-token doc")
    val pairs = Dedup.minhashPairs(shorts)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((4L, 5L)), "real dups still collide")
    assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L),
      "a 2-char doc has no shingles, so it can never be an LSH candidate")
    assert(Dedup.jaccardTop(shorts).collect() !== null)
    assert(Dedup.clusters(shorts).count() === 5)
  }

  test("ngram novelty: originals score 1, verbatim copies 0, partial reuse in between") {
    val orig = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val fresh = "one two three four five six seven eight nine ten eleven twelve"
    val half = orig.split(" ").take(8).mkString(" ") + " nu xi omicron pi rho sigma tau upsilon"
    val planted = Seq(
      (1L, orig, "en", "src0", orig.length.toLong),
      (2L, orig, "en", "src1", orig.length.toLong),       // verbatim copy, later id
      (3L, half, "en", "src0", half.length.toLong),       // shares a prefix with 1
      (4L, fresh, "en", "src0", fresh.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.ngramNovelty(planted).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L)._3 === 1.0, "first introducer owns every gram")
    assert(r(2L)._3 === 0.0, "a verbatim later copy introduces nothing")
    assert(r(3L)._3 > 0.0 && r(3L)._3 < 1.0, "partial reuse lands between")
    assert(r(4L)._3 === 1.0)
    assert(r(1L)._1 === r(2L)._1, "copies carry identical gram counts")
  }

  test("incremental novelty ≡ one-shot restricted to the batch; index merges by min") {
    val split = docs.count() // real corpus, id-split staging
    val standing = docs.filter($"doc_id" % 2 === 0)
    val arriving = docs.filter($"doc_id" % 2 =!= 0)
    val inc = TextOps.ngramNoveltyIncremental(standing, arriving).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val oneShot = TextOps.ngramNovelty(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      .filter(_._1 % 2 == 1)
    assert(inc === oneShot, "continuation contract: union attribution, batch restriction")
    // associativity: index(a ∪ b) ≡ merge(index(a), index(b))
    val whole = TextOps.gramFirstIndex(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mergedIdx = TextOps.mergeGramFirstIndex(
      TextOps.gramFirstIndex(standing), TextOps.gramFirstIndex(arriving)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(whole === mergedIdx)
    assert(split > 0)
  }

  test("degenerate texts survive the stats/quality family (ANSI divide regression)") {
    // empty text, whitespace-only, symbol-only (zero BPE-ish tokens),
    // and the jaccard 0-union case: two identical 2-token docs that
    // band-collide on shingles while both 3-gram sets are empty
    val degen = Seq(
      (1L, "", "en", "src0", 0L),
      (2L, "   ", "en", "src0", 3L),
      (3L, "!!! ??? ***", "en", "src0", 11L),
      (4L, "hello world", "en", "src0", 11L),
      (5L, "hello world", "en", "src1", 11L),
      (6L, "a normal sentence with enough words to be a document", "en", "src0", 52L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ent = TextOps.charEntropy(degen).collect().map(r => r.getLong(0) -> r).toMap
    assert(ent.size === 6)
    assert(ent(1L).isNullAt(4), "empty text → NULL ratio, not a crash")
    val tc = TextOps.tokenCounts(degen).collect().map(r => r.getLong(0) -> r).toMap
    assert(tc(1L).getLong(3) === 0L, "empty text → zero bpe tokens")
    assert(tc(1L).isNullAt(4), "… and a NULL chars-per-token")
    assert(tc(3L).getLong(3) > 0L, "the BPE-ish regex does tokenize punctuation")
    assert(TextOps.textStats(degen).count() === 6)
    assert(TextOps.gopherQuality(degen).count() === 6)
    assert(TextOps.qualityVerdict(degen).count() === 6)
    val jac = Dedup.jaccardTop(degen).collect()
    assert(jac !== null, "0-union band collision must not throw")
  }

  test("containment: a planted prefix doc scores 1.0 against its superset") {
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    // drop one trailing token: every 3-gram of the prefix is in the
    // superset, near-identical shingles keep the pair band-colliding
    val prefix = long.split(" ").dropRight(1).mkString(" ")
    val planted = Seq(
      (1L, long, "en", "src0", long.length.toLong),
      (2L, prefix, "en", "src0", prefix.length.toLong),
      (3L, "completely different words about spark shuffles and partitions here yes", "en", "src0", 60L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = Dedup.containmentTop(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(7)))).toMap
    val ((nCommon, nA, nB, overlap)) = rows.getOrElse((1L, 2L),
      rows((2L, 1L)))
    // prefix's gram set is a strict subset: containment(prefix) = 1
    assert(nCommon === math.min(nA, nB))
    assert(overlap === 1.0)
    assert(!rows.contains((1L, 3L)) && !rows.contains((3L, 1L)))
  }

  test("containment: overlap == max of the directed containments; bounds hold") {
    val rows = Dedup.containmentTop(docs).collect()
    assert(rows.length <= 100)
    rows.foreach { r =>
      val (nCommon, nA, nB) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nCommon <= math.min(nA, nB))
      if (!r.isNullAt(7)) {
        val (ca, cb, ov) = (r.getDouble(5), r.getDouble(6), r.getDouble(7))
        assert(ov === math.max(ca, cb))
        assert(ov >= 0.0 && ov <= 1.0)
      }
    }
  }

  // ---- HLL vocabulary sketch ------------------------------------------

  private def hllReference(tokens: Seq[String]): Map[Long, Long] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    tokens.map { t =>
      val h = java.lang.Long.parseLong(md5hex(t).take(15), 16)
      val bucket = h >>> 52
      val rem = h & 4503599627370495L
      val rank = if (rem == 0) 53L
        else 53L - java.lang.Long.toBinaryString(rem).length
      bucket -> rank
    }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
  }

  test("hll registers: bit-exact against an independent driver-side reference") {
    val tokens = docs.select(explode(split(lower(trim(col("text"))), " ")))
      .collect().map(_.getString(0)).toSeq
    val expected = hllReference(tokens)
    val got = TextOps.vocabHllRegisters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(got.size <= 256)
    assert(got.values.forall(r => r >= 1 && r <= 53))
  }

  test("hll merge: any split's merged registers ≡ one-shot; estimate sane vs exact") {
    val oneShot = TextOps.vocabHllRegisters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val merged = TextOps.mergeHllRegisters(
        TextOps.vocabHllRegisters(docs.filter(col("doc_id") % 3 === 0)),
        TextOps.vocabHllRegisters(docs.filter(col("doc_id") % 3 =!= 0)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(merged === oneShot)
    val s = TextOps.vocabHll(docs).collect()
    assert(s.length === 1)
    val (est, exact) = (s(0).getLong(3) / 1e6, s(0).getLong(4).toDouble)
    assert(exact > 0)
    // fixture vocab sits in the linear-counting regime: tight accuracy
    assert(math.abs(est - exact) / exact < 0.25,
      s"hll estimate $est vs exact $exact out of tolerance")
  }

  test("stupid-backoff trigram: levels and micro-bit scores by hand math") {
    // standing (even ids): N=8 tokens, V=5 {a,b,c,d,e};
    // c3: "a b c":2, "b c d":1, "b c e":1; c2: "a b":2, "b c":2,
    // "c d":1, "c e":1; c1: a:2 b:2 c:2 d:1 e:1
    val planted = Seq(
      (0L, "a b c d", "en", "s", 7L), (2L, "a b c e", "en", "s", 7L),
      (1L, "a b c d", "en", "s", 7L), // both trigrams seen: level 0
      (3L, "a b x", "en", "s", 5L),   // "b x" unseen too: level 2
      (5L, "x b c", "en", "s", 5L),   // trigram unseen, "b c" seen: level 1
      (7L, "a b", "en", "s", 3L))     // <3 tokens: absent
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val standing = planted.filter(col("doc_id") % 2 === 0)
    val batch = planted.filter(col("doc_id") % 2 =!= 0)
    val out = TextOps.trigramBackoff(batch, standing).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // doc 1: "a b c" P=2/2 → 0 bits; "b c d" P=1/2 → 1e6 micro
    assert(out(1L) === ((2L, 0L, 0L, 1000000L, 500000L)))
    // doc 5: one level-1 probe — penalty 1321928 (−log2 0.4) +
    // micro(f(b)=2) − micro(f("b c")=2) = 1321928
    assert(out(5L) === ((1L, 1L, 0L, 1321928L, 1321928L)))
    // doc 3: one level-2 probe — 2·penalty + micro(N+V=13) −
    // micro(f(x)+1=1) = 2643856 + 3700440
    assert(out(3L) === ((1L, 0L, 1L, 6344296L, 6344296L)))
    assert(!out.contains(7L), "a two-token doc has no trigram probes")
    // held-out ordering sanity: a fully-covered doc scores below the
    // OOV one
    assert(out(1L)._5 < out(3L)._5)
  }

  test("stupid-backoff trigram: self-trained model never backs off; summary rolls the doc grain") {
    val docs = Tables.documents(spark, sf)
    val self = TextOps.trigramBackoff(docs, docs)
    // every probe trigram is in its own training set: backoff is
    // structurally dead on a self-trained model — the reason the
    // registry entry is held-out
    assert(self.filter(col("n_bo1") > 0 || col("n_bo2") > 0).isEmpty)
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    val standing = docs.filter(col("doc_id") % 2 === 0)
    val perDoc = TextOps.trigramBackoff(batch, standing)
    // the held-out fixture really exercises backoff
    val bo = perDoc.agg(sum(col("n_bo1")), sum(col("n_bo2"))).collect()(0)
    info(s"fixture backoff pressure: ${bo.getLong(0)} bigram falls, " +
      s"${bo.getLong(1)} unigram falls")
    // summary = the doc grain re-aggregated by source (exact-long
    // consistency, shares derived from the same longs)
    val summary = TextOps.trigramBackoffSummary(batch, standing).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val byDoc = perDoc.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("nd"), sum(col("n_trigrams")).as("nt"),
        sum(col("n_bo1")).as("b1"), sum(col("n_bo2")).as("b2"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(summary === byDoc)
  }
}
