package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Corpus, Dedup}
import graft.sources.Tables

class CorpusSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def docs = Tables.documents(spark, sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def doc(id: Long, text: String, lang: String = "en",
                  source: String = "src0") =
    (id, text, lang, source, text.length.toLong)

  // ---- dedup_clusters -------------------------------------------------

  test("clusters: exact-dup groups collapse to min doc_id; singletons stay") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val planted = Seq(
      doc(1L, base), doc(2L, base), doc(7L, base), // one 3-doc group
      doc(4L, "completely different words about spark shuffles and partitions yes"),
      doc(5L, "el rapido zorro marron salta sobre el perro perezoso de la casa", "es")
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.clusters(planted).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getBoolean(3)))).toMap
    assert(r(1L) === ((1L, 3L, true)))
    assert(r(2L) === ((1L, 3L, false)))
    assert(r(7L) === ((1L, 3L, false)))
    assert(r(4L) === ((4L, 1L, true)))
    assert(r(5L) === ((5L, 1L, true)))
  }

  test("clusters: transitive chain A~B, B~C lands A,B,C in ONE cluster") {
    // b is a near-dup of a (one edit) and c a near-dup of b (one other
    // edit); a vs c are two edits apart and need NOT share a band —
    // only propagation can unify all three.
    val a = "the quick brown fox jumps over the lazy dog and runs far away home tonight again ok"
    val b = a.replace("quick", "swift")
    val c = b.replace("tonight", "tomorrow")
    val planted = Seq(doc(1L, a), doc(2L, b), doc(3L, c))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Dedup.minhashPairs(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assume(pairs((1L, 2L)) && pairs((2L, 3L)),
      "chain premise: consecutive edits collide in some band")
    val r = Dedup.clusters(planted).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("clusters on the real corpus: partitions the doc set; ids are group minima") {
    val r = Dedup.clusters(docs).collect()
    assert(r.length === docs.count())
    val byCluster = r.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getLong(0)).min === cid, "cluster id = min member")
      assert(members.forall(_.getLong(2) === members.length.toLong))
    }
  }

  test("prune: only canonical survivors remain, dup counts carried") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val planted = Seq(
      doc(1L, base), doc(2L, base), doc(7L, base),
      doc(4L, "completely different words about spark shuffles and partitions yes"),
      doc(5L, "el rapido zorro marron salta sobre el perro perezoso de la casa", "es")
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.prune(planted).collect()
      .map(x => x.getLong(0) -> ((x.getLong(4), x.getLong(5)))).toMap
    assert(r.keySet === Set(1L, 4L, 5L))
    assert(r(1L) === ((3L, 2L)))
    assert(r(4L) === ((1L, 0L)))
    assert(r(5L) === ((1L, 0L)))
  }

  // ---- sampling -------------------------------------------------------

  test("weighted sample keeps ≈weight share per source and is deterministic") {
    val s1 = Corpus.sample(docs).collect().map(_.getLong(0)).toSeq
    val s2 = Corpus.sample(docs).collect().map(_.getLong(0)).toSeq
    assert(s1 === s2, "hash-threshold sampling is reproducible")
    val summary = Corpus.mixSummary(docs).collect()
    summary.foreach { r =>
      val (w, n, kept) = (r.getDouble(2), r.getLong(3), r.getLong(4))
      assert(math.abs(kept.toDouble / n - w) < 0.35,
        s"source ${r.getString(1)}: kept $kept/$n vs weight $w")
    }
    // mixSummary's kept counts must agree with the sample itself
    val bySrc = Corpus.sample(docs).collect()
      .groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    summary.foreach { r =>
      assert(bySrc.getOrElse(r.getString(1), 0L) === r.getLong(4))
    }
  }

  test("stratified sample: exactly perStratum per language, ranked by hash key") {
    val r = Corpus.stratifiedSample(docs, perStratum = 7).collect()
    val byLang = r.groupBy(_.getString(0))
    assert(byLang.keySet === Set("en", "de", "es", "fr", "zh"))
    byLang.values.foreach { rows =>
      assert(rows.length === 7)
      val keys = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(keys === keys.sorted, "rank follows the sample key")
    }
  }

  // ---- packing --------------------------------------------------------

  test("pack plan: prefix-sum assignment, offsets wrap at capacity") {
    val planted = Seq(
      doc(1L, Seq.fill(60)("w").mkString(" ")),  // 60 tokens
      doc(2L, Seq.fill(50)("w").mkString(" ")),  // starts at 60
      doc(3L, Seq.fill(10)("w").mkString(" ")),  // starts at 110 → pack 1
      doc(4L, Seq.fill(5)("x").mkString(" "), "de") // own lang → pack 0
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.packPlan(planted, capacity = 100).collect()
      .map(x => x.getLong(0) -> ((x.getLong(3), x.getLong(4)))).toMap
    assert(r(1L) === ((0L, 0L)))
    assert(r(2L) === ((0L, 60L)))  // straddles into pack 1, starts in 0
    assert(r(3L) === ((1L, 10L)))
    assert(r(4L) === ((0L, 0L)))
    val s = Corpus.packSummary(planted, capacity = 100).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> ((x.getLong(2), x.getLong(3)))).toMap
    assert(s(("en", 0L)) === ((2L, 110L)))
    assert(s(("en", 1L)) === ((1L, 10L)))
    assert(s(("de", 0L)) === ((1L, 5L)))
  }

  test("pack manifest: spans tile every full pack exactly, docs keep their token mass") {
    val m = Corpus.packManifest(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // every doc's spans sum to its token count
    val plan = Corpus.packPlan(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    m.groupBy(_._3).foreach { case (docId, spans) =>
      assert(spans.map(_._6).sum === plan(docId), s"doc $docId loses tokens")
    }
    // every pack except the last per language is tiled to exactly 2048
    m.groupBy(x => (x._1, x._2)).foreach { case ((lang, pid), spans) =>
      val lastPack = m.filter(_._1 == lang).map(_._2).max
      val total = spans.map(_._6).sum
      if (pid < lastPack) assert(total === 2048L, s"pack ($lang,$pid) not full: $total")
      else assert(total <= 2048L)
      // spans are contiguous and non-overlapping inside the pack
      val sorted = spans.sortBy(_._4)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 === b._4, "gap/overlap in pack tiling")
        case _ => ()
      }
    }
  }

  test("pack sequences: planted corpus reconstructs exact token streams") {
    val planted = Seq(
      doc(1L, (1 to 60).map(i => s"a$i").mkString(" ")),   // tokens 0..59
      doc(2L, (1 to 50).map(i => s"b$i").mkString(" ")),   // 60..109 → straddles
      doc(3L, (1 to 10).map(i => s"c$i").mkString(" ")),   // 110..119
      doc(4L, "x1 x2 x3", "de")
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.packSequences(planted, capacity = 100).collect()
      .map(x => (x.getString(0), x.getLong(1)) ->
        ((x.getLong(2), x.getLong(3), x.getString(4)))).toMap
    // pack (en,0) = all of doc1 + first 40 tokens of doc2 — exactly 100
    val en0 = (1 to 60).map(i => s"a$i") ++ (1 to 40).map(i => s"b$i")
    assert(r(("en", 0L)) === ((2L, 100L, md5hex(en0.mkString(" ")))))
    // pack (en,1) = doc2's last 10 tokens + all of doc3 — the tail pack
    val en1 = (41 to 50).map(i => s"b$i") ++ (1 to 10).map(i => s"c$i")
    assert(r(("en", 1L)) === ((2L, 20L, md5hex(en1.mkString(" ")))))
    assert(r(("de", 0L)) === ((1L, 3L, md5hex("x1 x2 x3"))))
  }

  test("pack sequences on the real corpus: full packs carry exactly 2048 tokens") {
    val r = Corpus.packSequences(docs).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(3)))
    assert(r.nonEmpty)
    r.groupBy(_._1).foreach { case (lang, packs) =>
      val last = packs.map(_._2).max
      packs.foreach { case (_, pid, nTok) =>
        if (pid < last) assert(nTok === 2048L, s"pack ($lang,$pid) not full")
        else assert(nTok <= 2048L)
      }
    }
  }

  test("pack plan on the real corpus: offsets < capacity, ids contiguous per lang") {
    val r = Corpus.packPlan(docs).collect()
    assert(r.forall(x => x.getLong(4) >= 0 && x.getLong(4) < 2048))
    r.groupBy(_.getString(1)).values.foreach { rows =>
      val ids = rows.map(_.getLong(3)).distinct.sorted
      assert(ids === (0L until ids.length).toSeq, "pack ids are dense per lang")
    }
  }

  test("pack plan with explicit counts: identity on the proxy, BPE geometry holds") {
    // feeding the whitespace proxy explicitly must reproduce packPlan
    // bit-for-bit — the count source is the ONLY thing the overload
    // changes
    import org.apache.spark.sql.functions.{size, split, trim}
    val ws = docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val viaCounts = Corpus.packPlanWithCounts(docs, ws).collect().toSeq
    val direct = Corpus.packPlan(docs).collect().toSeq
    assert(viaCounts === direct)
    // BPE-driven plan: same geometry invariants under the trained cost
    val bpe = graft.operators.Bpe.tokenCounts(docs, nMerges = 8)
      .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
    val r = Corpus.packPlanWithCounts(docs, bpe).collect()
    assert(r.nonEmpty)
    assert(r.forall(x => x.getLong(4) >= 0 && x.getLong(4) < 2048))
    r.groupBy(_.getString(1)).values.foreach { rows =>
      val ids = rows.map(_.getLong(3)).distinct.sorted
      assert(ids === (0L until ids.length).toSeq, "pack ids are dense per lang")
    }
    // BPE packs need at least as much room as the whitespace proxy's
    // (n_bpe >= n_words per doc), so the plan can only grow
    assert(r.map(_.getLong(3)).max >= direct.map(_.getLong(3)).max)
  }

  test("pack plan under the unigram tokenizer's real cost: geometry invariants hold (r13)") {
    val uni = graft.operators.UnigramLm.tokenCounts(docs)
      .select(col("doc_id"), col("n_unigram_tokens").as("n_tokens"))
    val r = Corpus.packPlanWithCounts(docs, uni).collect()
    assert(r.nonEmpty)
    assert(r.forall(x => x.getLong(4) >= 0 && x.getLong(4) < 2048))
    r.groupBy(_.getString(1)).values.foreach { rows =>
      val ids = rows.map(_.getLong(3)).distinct.sorted
      assert(ids === (0L until ids.length).toSeq, "pack ids are dense per lang")
    }
    // every word segments to at least one piece, so the unigram plan
    // needs at least the whitespace proxy's room
    val direct = Corpus.packPlan(docs).collect().toSeq
    assert(r.map(_.getLong(3)).max >= direct.map(_.getLong(3)).max)
  }

  test("pack scan is two-phase: no per-doc window partitioned on lang alone") {
    // the 100 TB guarantee: the window that runs over the DOCS must
    // partition by (lang, bucket) — a lang-only partition spec would
    // funnel a whole head language through one task
    for (df <- Seq(Corpus.packPlan(docs), Corpus.packManifest(docs),
        Corpus.packSequences(docs))) {
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      val perDoc = wins.filter(
        _.orderSpec.exists(_.child.references.exists(_.name == "doc_id")))
      assert(perDoc.nonEmpty, "expected a per-doc running-sum window")
      perDoc.foreach(w => assert(w.partitionSpec.size >= 2,
        s"per-doc scan window must partition by (lang, bucket): $w"))
      // the lang-only window runs over the bucket AGGREGATE (one row
      // per bucket), never over the docs
      wins.filterNot(perDoc.contains).foreach(w =>
        assert(w.orderSpec.exists(_.child.references.exists(_.name == "bucket")),
          s"unexpected per-doc lang-only window: $w"))
    }
  }

  test("incremental pack planning across batches equals the one-shot plan") {
    // doc_id-ordered split: batch 1 = lower half, batch 2 = upper half;
    // batch 2 continues from batch 1's per-lang token totals
    val cut = 250L
    val b1 = docs.filter($"doc_id" < cut)
    val b2 = docs.filter($"doc_id" >= cut)
    val t1 = Corpus.packPlan(b1)
    val totals = t1.groupBy("lang")
      .agg(org.apache.spark.sql.functions.sum("n_tokens").as("base_tokens"))
    val t2 = Corpus.packPlanIncremental(b2, totals)
    val stitched = t1.unionByName(t2)
    val oneShot = Corpus.packPlan(docs)
    assert(stitched.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(stitched).count() === 0)
  }

  test("temperature rebalance: rarest language keeps everything, head languages shrink") {
    val rates = Corpus.temperatureRates(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val nMin = rates.values.map(_._1).min
    val minLang = rates.minBy(_._2._1)._1
    assert(rates(minLang)._2 === 1.0) // sqrt(n_min/n_min)
    rates.foreach { case (_, (n, rate)) =>
      assert(rate > 0.0 && rate <= 1.0)
      assert(rate === math.sqrt(nMin.toDouble / n))
    }
    val summary = Corpus.temperatureSummary(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    summary.foreach { case (lang, (nLang, rate, nKept)) =>
      assert(nKept <= nLang)
      // achieved rate tracks the target within sampling noise
      assert(math.abs(nKept.toDouble / nLang - rate) < 0.15)
    }
    // deterministic: a second run keeps the same docs
    val a = Corpus.temperatureSample(docs).collect().map(_.getLong(0))
    val b = Corpus.temperatureSample(docs).collect().map(_.getLong(0))
    assert(a.sameElements(b))
  }

  test("budget selection: kept tokens fit the budget, maximal at bucket grain") {
    val budget = 2000L
    val out = Corpus.selectBudget(docs, budget).collect()
    assert(out.nonEmpty)
    val byLang = out.groupBy(_.getString(1))
    byLang.foreach { case (lang, rows) =>
      val kept = rows.filter(_.getBoolean(5))
      val keptTokens = kept.map(_.getLong(2)).sum
      assert(keptTokens <= budget, s"$lang overshoots: $keptTokens")
      // kept ≡ score >= threshold (threshold present whenever anything kept)
      if (kept.nonEmpty) {
        val th = kept.head.getLong(4)
        rows.foreach(r => assert(r.getBoolean(5) === (r.getLong(3) >= th)))
        // bucket-grain maximality: admitting the next-lower score
        // bucket would overshoot (or nothing remains below)
        val below = rows.filter(_.getLong(3) < th)
        if (below.nonEmpty) {
          val nextScore = below.map(_.getLong(3)).max
          val nextBucket = below.filter(_.getLong(3) == nextScore).map(_.getLong(2)).sum
          assert(keptTokens + nextBucket > budget,
            s"$lang not maximal: could admit bucket $nextScore")
        }
      }
      // fixture non-degeneracy: every language both keeps and drops
      assert(kept.nonEmpty && kept.length < rows.length, s"$lang degenerate")
    }
  }

  test("curate composes verdict, dedup, and budget exactly") {
    val out = Corpus.curate(docs).cache()
    val verdict = graft.operators.TextOps.qualityVerdict(docs)
      .filter(col("keep")).select("doc_id")
    val notDup = Dedup.exact(docs).filter(!col("is_dup")).select("doc_id")
    val survivors = verdict.intersect(notDup)
    // the curated frame covers exactly the surviving docs
    assert(out.select("doc_id").exceptAll(survivors).count() === 0)
    assert(survivors.exceptAll(out.select("doc_id")).count() === 0)
    // and its selection column equals selectBudget over the survivors
    val expected = Corpus.selectBudget(
      docs.join(survivors, "doc_id").select(docs.columns.map(col): _*), 500L)
    assert(out.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(out).count() === 0)
    // fixture non-degeneracy: filtering, dedup survival and budget
    // metering all bite
    assert(out.count() > 0 && out.count() < docs.count())
    val kept = out.filter(col("kept")).count()
    assert(kept > 0 && kept < out.count())
    out.unpersist()
  }

  test("curate priority selector routes the SAME survivors through A-Res sampling") {
    // both metering stages compose the identical verdict+dedup
    // survivor frame — the switch (the selector argument) only
    // picks which independently-verified selector runs after it
    val out = Corpus.curate(docs, selector = "priority").cache()
    val verdict = graft.operators.TextOps.qualityVerdict(docs)
      .filter(col("keep")).select("doc_id")
    val notDup = Dedup.exact(docs).filter(!col("is_dup")).select("doc_id")
    val survivors = verdict.intersect(notDup)
    val expected = Corpus.prioritySample(
      docs.join(survivors, "doc_id").select(docs.columns.map(col): _*), 25)
    assert(out.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(out).count() === 0)
    // A-Res output shape: exactly n winners, dense ranks, all survivors
    assert(out.count() === 25)
    assert(out.select("doc_id").exceptAll(survivors).count() === 0)
    // and a bad selector fails loudly at the call site
    intercept[IllegalArgumentException] {
      Corpus.curate(docs, selector = "typo")
    }
    out.unpersist()
  }

  test("prune/report overloads with a materialized cluster table match the defaults") {
    val clustered = Dedup.clusters(docs).cache()
    try {
      val (p1, p0) = (Dedup.prune(docs, clustered), Dedup.prune(docs))
      assert(p1.exceptAll(p0).count() === 0)
      assert(p0.exceptAll(p1).count() === 0)
      assert(p0.count() > 0)
      val (r1, r0) = (Corpus.report(docs, clustered), Corpus.report(docs))
      assert(r1.exceptAll(r0).count() === 0)
      assert(r0.exceptAll(r1).count() === 0)
    } finally clustered.unpersist()
  }

  test("clusters releases superseded checkpoint blocks (only the final round survives)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Dedup.clusters(docs).write.format("noop").mode("overwrite").save()
    val leaked = sc.getPersistentRDDs.keySet -- before
    // the returned plan needs the LAST label checkpoint; every
    // superseded round and the edge table must have been released
    // through the RDD handle (Dataset.unpersist alone is a no-op here)
    assert(leaked.size <= 1, s"checkpoint blocks leaked: $leaked")
  }

  test("corpus report: per-language stage counts compose the stage operators") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val planted = Seq(
      doc(1L, base), doc(2L, base), doc(7L, base),
      doc(4L, "completely different words about spark shuffles and partitions yes"),
      doc(5L, "el rapido zorro marron salta sobre el perro perezoso de la casa", "es")
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.report(planted).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    // (n_docs, n_quality, n_canonical): the short planted docs all fail
    // the length gate; en has the 3-dup cluster (1 canonical) + doc 4
    assert(r("en") === ((4L, 0L, 2L)))
    assert(r("es") === ((1L, 0L, 1L)))
  }

  test("pack plan properties: random corpora satisfy the prefix-sum contract") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    val corpusGen: Gen[List[(Long, String, Int)]] = for {
      n <- Gen.choose(1, 25)
      rows <- Gen.listOfN(n, for {
        lang <- Gen.oneOf("en", "de", "zh")
        toks <- Gen.choose(1, 50)
      } yield (lang, toks))
    } yield rows.zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) }
    val capacity = 64
    // forAllNoShrink: shrinking ignores generator bounds and produces
    // 0-token docs (split("") = [""], one token) — out of the
    // operator's input domain (corpus texts are non-empty)
    val prop = Prop.forAllNoShrink(corpusGen) { rows =>
      rows.nonEmpty ==> {
        val df = rows.map { case (id, lang, t) =>
          (id, Seq.fill(t)("w").mkString(" "), lang, "src0", t.toLong)
        }.toDF("doc_id", "text", "lang", "source", "n_chars")
        val out = Corpus.packPlan(df, capacity).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        val offsetsBounded = out.forall { case (_, _, _, _, off) =>
          off >= 0 && off < capacity }
        // pack_id*capacity + offset must equal the per-lang prefix sum,
        // and pack ids must be non-decreasing in doc_id order
        val prefixExact = out.groupBy(_._2).forall { case (_, docs) =>
          val sorted = docs.sortBy(_._1).toSeq
          var cum = 0L
          sorted.forall { case (_, _, t, pid, off) =>
            val ok = pid * capacity + off == cum
            cum += t
            ok
          } && sorted.map(_._4) == sorted.map(_._4).sorted
        }
        offsetsBounded && prefixExact
      }
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(20).withInitialSeed(42L), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- PII scrub ------------------------------------------------------

  test("pii scrub: planted email/url/phone are counted and redacted") {
    val planted = Seq(
      doc(1L, "contact me at john.doe+spam@example.co.uk for details"),
      doc(2L, "docs live at https://spark.apache.org/docs/latest?x=1#top today"),
      doc(3L, "call +1 (415) 555-0132 now"),
      doc(4L, "mixed: a@b.io and https://x.io/a_b and +44 20 7946 0958 end"),
      doc(5L, "nothing sensitive here at all")
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.piiScrub(planted).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getString(5)))).toMap
    assert(r(1L)._1 === 0L); assert(r(1L)._2 === 1L); assert(r(1L)._3 === 0L)
    assert(r(1L)._4 === md5hex("contact me at <EMAIL> for details"))
    assert(r(2L)._1 === 1L)
    assert(r(2L)._4 === md5hex("docs live at <URL> today"))
    assert(r(3L)._3 === 1L)
    assert(r(3L)._4 === md5hex("call <PHONE> now"))
    assert(r(4L) === ((1L, 1L, 1L,
      md5hex("mixed: <EMAIL> and <URL> and <PHONE> end"))))
    assert(r(5L) === ((0L, 0L, 0L, md5hex("nothing sensitive here at all"))))
  }

  // ---- plan shapes ----------------------------------------------------

  test("sample plan: text column never read, no shuffle before the sort") {
    val df = Corpus.sample(docs)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(plan).getOrElse("")
    assert(!readSchema.contains("text"),
      s"sampling must not read the payload column:\n$readSchema")
    // per-row filter only — the single exchange is the output sort's
    // range split (formatted mode: partitioning in the Arguments footer)
    assert(!plan.contains("Arguments: hashpartitioning"),
      s"no hash shuffle expected in a stateless sample:\n$plan")
  }

  test("tfidf plan: map-side partial aggregates, 1-row corpus count broadcasts") {
    val df = Corpus.tfidfTopTerms(docs)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"partial+final aggregates expected for tf and df:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row n_docs scalar must broadcast, not shuffle:\n$plan")
  }

  test("tfidf/commonness df join is salted: hot-term key carries the salt") {
    // Zipf head terms would land every occurrence on one reducer if the
    // df join keyed on term alone; assert the equi-join condition
    // includes the salt column, and the salted result is still exact
    for (df <- Seq(Corpus.tfidfTopTerms(docs),
        graft.operators.TextOps.commonness(docs))) {
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "term")) => j
      }
      assert(joins.nonEmpty, "expected a term-keyed join")
      joins.foreach(j => assert(
        j.condition.exists(_.references.exists(_.name == "__salt")),
        s"term join must be salted: $j"))
    }
    // exactness on a skewed planted corpus: "the" (df = every doc,
    // score 4·40/40 = 4) must lose to the doc-unique terms (score 40)
    // in every doc — salting must not lose or duplicate any pair
    val planted = (1L to 40L).map(i =>
      doc(i, s"the the the the unique$i word$i")).toDF(
      "doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.tfidfTopTerms(planted, k = 2).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(_.getString(2)).toSeq).toMap
    assert(r.keySet === (1L to 40L).toSet)
    (1L to 40L).foreach(i => assert(r(i) === Seq(s"unique$i", s"word$i")))
  }

  // ---- tf-idf ---------------------------------------------------------

  test("tfidf: doc-specific term outranks corpus-wide term") {
    val planted = Seq(
      doc(1L, "alpha alpha alpha common common"),
      doc(2L, "beta beta common common common"),
      doc(3L, "gamma common")
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.tfidfTopTerms(planted, k = 2).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(_.getString(2)).toSeq).toMap
    assert(r(1L) === Seq("alpha", "common"))
    assert(r(2L) === Seq("beta", "common"))
    assert(r(3L).head === "gamma")
    // df=1 term in a 3-doc corpus: score = tf * 3 / 1
    val row1 = Corpus.tfidfTopTerms(planted, k = 2).collect()
      .find(x => x.getLong(0) === 1L && x.getLong(1) === 1L).get
    assert(row1.getLong(3) === 3L)      // tf(alpha in doc 1)
    assert(row1.getLong(4) === 1L)      // df(alpha)
    assert(row1.getDouble(5) === 9.0)   // 3 * 3 / 1
  }

  // ---- corpus_shuffle / corpus_curriculum -----------------------------

  test("shufflePlan: dense 0..N-1 permutation, bit-equal to the global-window order") {
    val r = Corpus.shufflePlan(docs).collect()
    val n = r.length
    assert(n === docs.count())
    assert(r.map(_.getLong(2)).sorted.toSeq === (0L until n.toLong))
    // driver-side replication of the ORDER BY (md5 key, doc_id) the
    // two-phase bucketed ordinal claims to equal
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0))
    val expected = ids.sortBy(id => (md5hex("42:" + id), id)).zipWithIndex
      .map { case (id, i) => id -> i.toLong }.toMap
    r.foreach(row => assert(row.getLong(2) === expected(row.getLong(0)),
      s"doc ${row.getLong(0)} out of place"))
  }

  test("shufflePlan: re-seeding permutes; same seed reproduces") {
    val a = Corpus.shufflePlan(docs, "42").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val b = Corpus.shufflePlan(docs, "epoch1").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val a2 = Corpus.shufflePlan(docs, "42").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(a.keySet === b.keySet)
    assert(a !== b, "different seed must give a different epoch order")
    assert(a === a2, "same seed must reproduce the same order")
  }

  test("interleave: dense stride-scheduled order, bit-equal to the driver replication") {
    val rows = Corpus.interleave(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val n = rows.length
    assert(rows.map(_._5).sorted.toSeq === (0L until n.toLong))
    // driver-side replication of the whole schedule
    val base = docs.select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def weight(src: String): Double = {
      val num = src.drop(3).toInt
      if (num < 5) 0.9 else if (num < 10) 0.5 else if (num < 15) 0.25 else 0.1
    }
    val ranked = base.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      ds.sortBy { case (id, _) => (md5hex("interleave:" + id), id) }
        .zipWithIndex.map { case ((id, _), i) =>
          (id, src, i + 1L, (i + 1L).toDouble / weight(src)) }
        .toSeq
    }
    val expected = ranked.sortBy { case (id, src, _, vt) => (vt, src, id) }
      .zipWithIndex.map { case ((id, src, k, vt), pos) => id -> ((src, k, vt, pos.toLong)) }
      .toMap
    rows.foreach { case (id, src, k, vt, pos) =>
      assert(expected(id) === ((src, k, vt, pos)), s"doc $id off schedule")
    }
    // the stride property the schedule exists for: in any decent prefix
    // a rate-0.9 source has emitted ~9x a rate-0.1 source's share
    val prefix = rows.sortBy(_._5).take(n / 2)
    val bySrc = prefix.groupBy(r => weight(r._2)).view.mapValues(_.size).toMap
    assert(bySrc.getOrElse(0.9, 0) > bySrc.getOrElse(0.1, 0),
      "high-rate sources must dominate early emissions")
  }

  test("shuffled pack: prefix sums follow the epoch order, bit-equal to driver replication") {
    val r = Corpus.packPlanShuffled(docs).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5)))
    val base = docs.select(col("doc_id"), col("lang"), col("text")).collect()
      .map(x => (x.getLong(0), x.getString(1),
        x.getString(2).trim.split("\\s+").length.toLong))
    val pos = base.map(_._1).sortBy(id => (md5hex("42:" + id), id))
      .zipWithIndex.map { case (id, i) => id -> i.toLong }.toMap
    val expected = base.groupBy(_._2).toSeq.flatMap { case (_, ds) =>
      var run = 0L
      ds.sortBy(d => pos(d._1)).map { case (id, lg, nt) =>
        val tb = run; run += nt
        (id, lg, nt, pos(id), tb / 2048, tb % 2048)
      }.toSeq
    }
    assert(r.toSet === expected.toSet)
    // the epoch order genuinely changes the packing vs ingestion order
    val plain = Corpus.packPlan(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(3), x.getLong(4)))).toMap
    assert(r.exists { case (id, _, _, _, pid, poff) => plain(id) != ((pid, poff)) },
      "shuffled packing coincided with doc_id-order packing — vacuous fixture")
  }

  test("curriculum: difficulty-monotone positions, exact stage rule, dense") {
    val r = Corpus.curriculum(docs).collect()
      .map(x => (x.getLong(0), x.getLong(2), x.getLong(3), x.getLong(4)))
    val n = r.length.toLong
    assert(r.map(_._3).sorted.toSeq === (0L until n))
    val byPos = r.sortBy(_._3)
    // curriculum order never decreases in difficulty
    byPos.sliding(2).foreach { case Array(p, q) =>
      assert(p._2 <= q._2, s"difficulty inversion at pos ${q._3}")
    }
    // stage is exactly pos*S div N (equal-count cut, S=4)
    byPos.foreach { case (_, _, pos, st) => assert(st === pos * 4 / n) }
  }

  // ---- bm25 / zipf / source_overlap / cap_per_source ------------------

  test("bm25: high-tf short doc tops the ranking; non-matching doc absent") {
    val planted = Seq(
      doc(1L, "hash hash hash hash hash join merge"),
      doc(2L, "join merge filter scan table window order sort group agg"),
      doc(3L, "the quick brown fox jumps over the lazy dog tonight again"),
      doc(4L, "merge join hash filter scan table window order sort group")
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.bm25TopDocs(planted, Seq("hash", "join", "merge"), 10).collect()
    assert(r.map(_.getLong(0)).toSeq === (1L to r.length.toLong)) // dense ranks
    assert(r.head.getLong(1) === 1L) // 5x "hash" in the shortest doc wins
    assert(!r.map(_.getLong(1)).contains(3L)) // zero query terms -> unscored
    val scores = r.map(_.getLong(3))
    scores.sliding(2).foreach {
      case Array(hi, lo) => assert(hi >= lo, "scores not non-increasing")
      case _             => ()
    }
  }

  test("bm25 batch: singleton query set ≡ the single-query operator bit-for-bit") {
    val single = Corpus.bm25TopDocs(docs, Seq("hash", "join", "merge"), 20)
      .collect().map(_.toSeq).toSeq
    val batch = Corpus.bm25Batch(docs,
        Seq(7L -> Seq("hash", "join", "merge")), k = 20).collect()
    assert(batch.forall(_.getLong(0) === 7L))
    // same (rank, doc_id, n_terms_matched, score_micro) in the same order
    assert(batch.map(r => Seq(r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4))).toSeq === single)
  }

  test("bm25 batch: per-query ranks dense; scored docs contain that query's terms") {
    val r = Corpus.bm25Batch(docs).collect()
    val byQ = r.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(1)).sorted.toSeq === (1L to rows.length.toLong))
    }
    // spot-check containment for query 1 = {merge, sort}
    val q1docs = r.filter(_.getLong(0) === 1L).map(_.getLong(2)).toSet
    val texts = docs.filter(col("doc_id").isin(q1docs.toSeq: _*))
      .select("doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    q1docs.foreach { id =>
      val toks = texts(id).toLowerCase.trim.split(" ").toSet
      assert(toks.contains("merge") || toks.contains("sort"),
        s"doc $id scored for query 1 without its terms")
    }
  }

  test("bm25: determinism — two runs produce identical micro scores") {
    val a = Corpus.bm25TopDocs(docs).collect().toSeq
    val b = Corpus.bm25TopDocs(docs).collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("zipf slope: freq = C/rank corpus recovers slope -1") {
    // term_i appears 60/i times => log2(freq) = log2(60) - log2(rank):
    // an exactly linear rank-frequency law with slope -1, so the
    // least-squares fit must return -1 up to the 1e-6 micro-rounding
    // of each x/y sample.
    val words = (1 to 6).flatMap(i => Seq.fill(60 / i)(s"w$i"))
    val planted = Seq(doc(1L, words.mkString(" ")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.zipfSlope(planted, vTop = 6).collect()
    assert(r.length === 1)
    assert(r.head.getLong(1) === 6L)
    val slope = r.head.getDouble(2)
    assert(math.abs(slope - (-1.0)) < 1e-4, s"slope $slope != -1")
    // intercept is log2(60) in micro-bits
    val intercept = r.head.getDouble(3)
    assert(math.abs(intercept - math.log(60.0) / math.log(2.0) * 1e6) < 10.0,
      s"intercept $intercept")
  }

  test("zipf: a one-term language yields NULL slope (DuckDB /0 parity), not NaN") {
    val planted = Seq(
      doc(1L, "solo solo solo solo", lang = "xx"),
      doc(2L, "alpha beta gamma delta epsilon", lang = "en")
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.zipfSlope(planted).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("xx").isNullAt(2), "degenerate regression must be NULL")
    assert(r("xx").isNullAt(3), "NULL must propagate into the intercept")
    assert(!r("en").isNullAt(2), "well-formed language must still fit")
  }

  test("zipf continuation: any split, any chaining, bit-equal to one-shot") {
    val oneShot = Corpus.zipfSlope(docs).collect().map(_.toSeq).toSeq
    val r1 = Corpus.zipfSlopeIncremental(
        docs.filter(col("doc_id") % 2 =!= 0),
        Corpus.zipfVocab(docs.filter(col("doc_id") % 2 === 0)))
      .collect().map(_.toSeq).toSeq
    assert(r1 === oneShot)
    // three-increment chain over unbalanced head/tail splits
    val v1 = Corpus.zipfVocab(docs.filter(col("doc_id") < 50))
    val v2 = Corpus.mergeZipfVocab(v1,
      Corpus.zipfVocab(docs.filter(col("doc_id") >= 50 && col("doc_id") < 90)))
    val r2 = Corpus.zipfSlopeIncremental(docs.filter(col("doc_id") >= 90), v2)
      .collect().map(_.toSeq).toSeq
    assert(r2 === oneShot)
  }

  test("source_overlap continuation: split-invariant AND replay-idempotent") {
    val oneShot = Corpus.sourceOverlap(docs).collect().map(_.toSeq).toSeq
    val state = Corpus.sourceVocab(docs.filter(col("doc_id") % 2 === 0))
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    val r1 = Corpus.sourceOverlapIncremental(batch, state)
      .collect().map(_.toSeq).toSeq
    assert(r1 === oneShot)
    // the set-union state's distinguishing property vs the counting
    // continuations: REPLAYING a batch into the merged state changes
    // nothing (idempotence) — a counting state would double-count
    val replayed = Corpus.sourceOverlapIncremental(batch,
        Corpus.mergeSourceVocab(state, Corpus.sourceVocab(batch)))
      .collect().map(_.toSeq).toSeq
    assert(replayed === oneShot)
  }

  test("source_overlap: identical, partial, and disjoint source pairs") {
    val planted = Seq(
      doc(1L, "alpha beta gamma delta", source = "s1"),
      doc(2L, "alpha beta gamma delta", source = "s2"),
      doc(3L, "epsilon zeta", source = "s3"),
      doc(4L, "gamma delta epsilon", source = "s4")
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = Corpus.sourceOverlap(planted).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4), x.getDouble(5)))).toMap
    assert(rows(("s1", "s2")) === ((4L, 4L, 4L, 1.0))) // identical vocab
    assert(!rows.contains(("s1", "s3"))) // disjoint -> no candidate pair
    val (common, na, nb, j) = rows(("s1", "s4"))
    assert((common, na, nb) === ((2L, 4L, 3L)))
    assert(j === 2.0 / 5.0) // exact: |{gamma,delta}| / |{alpha..epsilon}|
  }

  test("priority sample: exact size, dense ranks, rerun-identical, weight-skewed") {
    val r = Corpus.prioritySample(docs, n = 25).collect()
    assert(r.length === 25)
    assert(r.map(_.getLong(0)).toSeq === (1L to 25L))
    // deterministic: a second run selects the SAME rows in the SAME order
    val again = Corpus.prioritySample(docs, n = 25).collect()
    assert(r.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
    // weighted-without-replacement behavior: the selected mean weight
    // must exceed the corpus mean (high-trust sources oversampled)
    val selMean = r.map(_.getDouble(4)).sum / r.length
    val corpusMean = docs
      .select(Corpus.sourceWeight(col("source")).as("w"))
      .agg(org.apache.spark.sql.functions.avg("w")).head.getDouble(0)
    assert(selMean > corpusMean,
      s"selected mean weight $selMean <= corpus mean $corpusMean")
  }

  test("priority sample continuation: any split, any chaining, bit-equal to one-shot") {
    val oneShot = Corpus.prioritySample(docs, n = 25).collect().map(_.toSeq).toSeq
    // odd/even split
    val a = Corpus.prioritySample(docs.filter(col("doc_id") % 2 === 0), 25)
    val r1 = Corpus.prioritySampleIncremental(
      docs.filter(col("doc_id") % 2 =!= 0), a, 25).collect().map(_.toSeq).toSeq
    assert(r1 === oneShot)
    // unbalanced head/tail split chained over THREE increments
    val s1 = Corpus.prioritySample(docs.filter(col("doc_id") < 50), 25)
    val s2 = Corpus.prioritySampleIncremental(
      docs.filter(col("doc_id") >= 50 && col("doc_id") < 90), s1, 25)
    val r2 = Corpus.prioritySampleIncremental(
      docs.filter(col("doc_id") >= 90), s2, 25).collect().map(_.toSeq).toSeq
    assert(r2 === oneShot)
  }

  test("priority sample: n >= corpus returns every doc exactly once") {
    val total = docs.count().toInt
    val all = Corpus.prioritySample(docs, n = total + 10).collect()
    assert(all.length === total)
    assert(all.map(_.getLong(1)).distinct.length === total)
  }

  test("cap_per_source: cap held per source, deterministic priority, pushdown planned") {
    val capped = Corpus.capPerSource(docs, cap = 7)
    val r = capped.collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSeq
    assert(r.nonEmpty)
    assert(r.groupBy(_._1).values.forall(_.size <= 7))
    // ranks dense per source; priority (n_chars desc, doc_id) honored
    r.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._2).sorted === (1L to rows.size.toLong))
      rows.sortBy(_._2).sliding(2).foreach {
        case Seq(hi, lo) =>
          assert(hi._4 > lo._4 || (hi._4 == lo._4 && hi._3 < lo._3))
        case _ => ()
      }
    }
    // the 100 TB guarantee: the rank filter must plan a
    // WindowGroupLimit pushdown (per-partition top-cap BEFORE the
    // exchange) — without it a mega source funnels through one task.
    // Measured: this beats a hand-salted two-phase form 3x at 1M rows
    // / 80% skew.
    val plan = capped.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("""\(\d+\) WindowGroupLimit""".r.findAllIn(plan).size >= 2,
      s"WindowGroupLimit pushdown missing:\n${plan.take(2000)}")
  }

  test("cap_per_source incremental: reservoir continuation is BIT-identical to one-shot") {
    // exact associativity of per-source top-cap: carrying only the
    // standing winners and re-ranking against the batch's own capped
    // set reproduces the one-shot cap over everything, byte for byte
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 =!= 0)
    val cont = Corpus.capPerSourceIncremental(odd, Corpus.capPerSource(even))
      .collect().toSeq
    val oneShot = Corpus.capPerSource(docs).collect().toSeq
    assert(cont === oneShot)
    // and the carried state is bounded at cap rows per source
    val state = Corpus.capPerSource(even)
    assert(state.groupBy("source").count()
      .filter(col("count") > 15).count() === 0)
    // order-independence: absorbing the halves in the other order
    // lands on the same winners (associativity + commutativity)
    val contSwap = Corpus.capPerSourceIncremental(even, Corpus.capPerSource(odd))
      .collect().toSeq
    assert(contSwap === oneShot)
  }

  test("curate dsir selector: DSIR top-k over the verdict+dedup survivors; bad selector rejected") {
    val out = Corpus.curate(docs, selector = "dsir").collect().toSeq
    // recompose independently from the same published stages
    val v = graft.operators.TextOps.qualityVerdict(docs)
      .select(col("doc_id"), col("keep"))
    val dd = Dedup.exact(docs).select(col("doc_id"), col("is_dup"))
    val surviving = docs.join(v, "doc_id").join(dd, "doc_id")
      .filter(col("keep") && !col("is_dup"))
      .select(docs.columns.map(col): _*)
    val expect = Corpus.dsirSelect(surviving, col("lang") === "en", k = 25)
      .collect().toSeq
    assert(out.toSet === expect.toSet)
    assert(out.length === 25)
    intercept[IllegalArgumentException] {
      Corpus.curate(docs, selector = "nope")
    }
  }

  // ---- UniMax (Chung et al. 2023) --------------------------------------

  test("unimax: water-filling hand math — capped tail takes its cap, the rest split equally") {
    // caps (E=1): a=2, b=4, c=100; budget 30 → a capped (2·3 < 30),
    // b capped (4·2 < 28), c uncapped → alloc (30−6)/1 = 24
    val planted = Seq(
      doc(1L, "w w", "a"), doc(2L, "w w w w", "b"),
      doc(3L, (1 to 100).map(_ => "w").mkString(" "), "c"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Corpus.unimax(planted, budgetTokens = 30L, maxEpochs = 1)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(out("a") === ((2L, 2L, true, 2.0, 1.0)))
    assert(out("b") === ((4L, 4L, true, 4.0, 1.0)))
    assert(out("c") === ((100L, 100L, false, 24.0, 0.24)))
    // budget beyond every cap: everything capped, Σalloc < B — UniMax
    // never repeats past the epoch cap
    val all = Corpus.unimax(planted, budgetTokens = 1000L, maxEpochs = 1)
      .collect()
    assert(all.forall(_.getBoolean(3)))
    assert(all.map(_.getDouble(4)).sum === 106.0)
  }

  test("unimax on the corpus: fairness invariants — epochs ≤ cap, Σalloc ≤ budget, uncapped share equal") {
    val out = Corpus.unimax(docs, budgetTokens = 20000L, maxEpochs = 1).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getDouble(5) <= 1.0 + 1e-12,
      s"lang ${r.getString(0)} exceeds the epoch cap"))
    assert(out.map(_.getDouble(4)).sum <= 20000.0 + 1e-6)
    val uncapped = out.filter(!_.getBoolean(3)).map(_.getDouble(4)).distinct
    assert(uncapped.length <= 1, "uncapped languages must share one allocation")
    info(s"unimax split: ${out.count(_.getBoolean(3))} capped / " +
      s"${out.length} langs, uncapped share ${uncapped.headOption.getOrElse(-1.0)}")
  }

  test("unimax select: apply = full epochs for all + Bernoulli(frac) remainder on the unimax sample key") {
    val budget = 20000L
    val out = Corpus.unimaxSelect(docs, budgetTokens = budget).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4), r.getLong(5))))
      .toMap
    assert(out.nonEmpty)
    // recompose independently: per-language epochs from the
    // allocation table, per-doc sample keys from sampleKey
    val epochs = Corpus.unimax(docs, budgetTokens = budget).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap
    val keys = docs.select(col("doc_id"), col("lang"),
        Corpus.sampleKey("unimax:", col("doc_id")).as("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val expected = keys.flatMap { case (id, lang, k) =>
      val e = epochs(lang)
      val full = math.floor(e).toLong
      val inRem = k < e - math.floor(e)
      val copies = full + (if (inRem) 1L else 0L)
      if (copies >= 1L) Some(id -> ((lang, full, inRem, copies))) else None
    }.toMap
    assert(out.view.mapValues(v => (v._1, v._3, v._4, v._5)).toMap === expected)
    // fairness carried through the apply: copies never exceed the cap
    assert(out.values.forall(_._5 <= 1L), "maxEpochs=1 bounds every copy count")
    // a capped language at maxEpochs=1 has epochs exactly 1 → every
    // doc selected exactly once, none via the remainder
    val capped = Corpus.unimax(docs, budgetTokens = budget).collect()
      .filter(_.getBoolean(3)).map(_.getString(0)).toSet
    if (capped.nonEmpty) {
      val langTotals = docs.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      capped.foreach { l =>
        val sel = out.filter(_._2._1 == l)
        assert(sel.size.toLong === langTotals(l), s"capped lang $l keeps all docs")
        assert(sel.values.forall(v => v._3 === 1L && !v._4))
      }
    }
    // stage composition: Σ selected n_tokens·n_copies per language ties
    // to the allocation table — EXACTLY alloc_tokens for a capped
    // language (epochs integral at maxEpochs=1, no remainder draw);
    // for an uncapped one the Bernoulli remainder meets alloc in
    // EXPECTATION, so pin full-copy mass ≤ Σ and the Bernoulli
    // deviation bound |Σ − alloc| ≤ max single-doc tokens · a safe
    // concentration factor (loose but deterministic on the fixture)
    val alloc = Corpus.unimax(docs, budgetTokens = budget).collect()
      .map(r => (r.getString(0), (r.getDouble(4), r.getBoolean(3)))).toMap
    val selTok = out.groupBy(_._2._1).view.mapValues(
      _.values.map(v => v._2 * v._5).sum).toMap
    selTok.foreach { case (l, s) =>
      val (a, isCapped) = alloc(l)
      if (isCapped) assert(s.toDouble === a,
        s"capped lang $l: Σ tokens must equal alloc")
      else {
        val langDocs = out.filter(_._2._1 == l).values
        val fullMass = langDocs.map(v => v._2 * v._3).sum
        assert(s >= fullMass && math.abs(s - a) <= a,
          s"uncapped lang $l: Σ=$s vs alloc=$a out of the expectation band")
      }
    }
  }

  // ---- DSIR (Xie et al. 2023) -----------------------------------------

  /** Independent in-memory DSIR reference: same md5 60-bit bucket
    * recipe, same Laplace models, same per-term micro quantization —
    * deliberately a different formulation (plain Scala maps).
    */
  private def dsirReference(rows: Seq[(Long, String, Boolean)],
      b: Int = Corpus.DsirBuckets): Map[Long, (Long, Long)] = {
    def hTok(w: String): Long =
      java.lang.Long.parseLong(md5hex(w).take(7), 16)
    def feats(text: String): Seq[Long] = {
      val hs = text.trim.toLowerCase.split(" ", -1).toSeq.map(hTok)
      hs.map(_ % b) ++ hs.sliding(2).filter(_.size == 2)
        .map(p => ((p(0) << 28) + p(1)) % b).toSeq
    }
    def micro(x: Double): Long =
      math.floor(math.log(x) / math.log(2.0) * 1e6 + 0.5).toLong
    val tgt = rows.filter(_._3).flatMap(r => feats(r._2))
    val raw = rows.filter(!_._3).flatMap(r => feats(r._2))
    val ct = tgt.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cr = raw.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    rows.filter(!_._3).map { case (id, text, _) =>
      val fs = feats(text)
      val w = fs.map { f =>
        micro((ct.getOrElse(f, 0L) + 1).toDouble) -
          micro((tgt.size + b).toDouble) -
          micro((cr(f) + 1).toDouble) + micro((raw.size + b).toDouble)
      }.sum
      id -> ((fs.size.toLong, w))
    }.toMap
  }

  test("dsir weights: bit-equal to an independent in-memory reference; target-like raw docs rank higher") {
    val planted = Seq(
      doc(1L, "spark shuffle partition join broadcast spark shuffle"),
      doc(2L, "spark shuffle partition join broadcast spark shuffle"),
      // raw doc 3 repeats the target text verbatim; raw doc 4 is
      // vocabulary-disjoint — importance must rank 3 above 4
      doc(3L, "spark shuffle partition join broadcast spark shuffle", "fr"),
      doc(4L, "zebra yak wombat xerus vole zebra yak", "fr"),
      doc(5L, "spark zebra join yak broadcast wombat", "de"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tgt = col("lang") === "en"
    val out = Corpus.dsirWeights(planted, tgt).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ref = dsirReference(Seq(
      (1L, "spark shuffle partition join broadcast spark shuffle", true),
      (2L, "spark shuffle partition join broadcast spark shuffle", true),
      (3L, "spark shuffle partition join broadcast spark shuffle", false),
      (4L, "zebra yak wombat xerus vole zebra yak", false),
      (5L, "spark zebra join yak broadcast wombat", false)))
    assert(out === ref)
    assert(out(3L)._2 > out(5L)._2 && out(5L)._2 > out(4L)._2,
      "weight order must follow target-likeness")
    // the mixed doc sits strictly between; and the verbatim-target raw
    // doc must score positive (more target-like than raw-average)
    assert(out(3L)._2 > 0L)
  }

  test("dsir select is the weight top-k; incremental ≡ one-shot restricted to batch") {
    val tgt = col("lang") === "en"
    val weights = Corpus.dsirWeights(docs, tgt)
    val selected = Corpus.dsirSelect(docs, tgt, k = 50).collect()
    assert(selected.length === 50)
    val wMap = weights.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expected = wMap.toSeq.sortBy { case (id, w) => (-w, id) }.take(50)
      .map(_._1).toSet
    assert(selected.map(_.getLong(0)).toSet === expected)
    // model continuation: merged bucket models = full-corpus models
    val standing = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    val cont = Corpus.dsirWeightsIncremental(batch, tgt,
      Corpus.dsirBucketCounts(standing.filter(tgt)),
      Corpus.dsirBucketCounts(standing.filter(!tgt)))
    val oneShot = weights.filter(col("doc_id") % 2 =!= 0)
    assert(cont.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(cont).count() === 0)
  }

  test("dsir gumbel select: Gumbel-top-k matches an independent recomputation; T→0 recovers the deterministic top-k") {
    val tgt = col("lang") === "en"
    val out = Corpus.dsirSelectGumbel(docs, tgt, k = 50).collect()
    val weights = Corpus.dsirWeights(docs, tgt).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val c = 1.0 / math.log(2.0) * 1e6
    val expected = weights.toSeq.map { case (id, w) =>
      val h = java.lang.Long.parseLong(md5hex("gumbel:" + id).take(7), 16).toDouble
      val u = (h + 0.5) / 268435456.0
      val gm = math.floor(c * (-math.log(-math.log(u))) + 0.5).toLong
      (id, w + gm)
    }.sortBy { case (id, s) => (-s, id) }.take(50)
    assert(out.map(r => (r.getLong(0), r.getLong(5))).toSeq === expected)
    // zero-temperature limit: the noise term floors to 0 and the
    // sampled selection degenerates to the deterministic top-k
    val t0 = Corpus.dsirSelectGumbel(docs, tgt, k = 50, temperature = 1e-9)
      .collect().map(_.getLong(0)).toSet
    assert(t0 === Corpus.dsirSelect(docs, tgt, k = 50)
      .collect().map(_.getLong(0)).toSet)
    // and at T = 1 the noise genuinely reorders the selection
    assert(out.map(_.getLong(0)).toSeq !==
      Corpus.dsirSelect(docs, tgt, k = 50).collect().map(_.getLong(0)).toSeq)
  }

  test("dsir weights: an EMPTY target model yields finite (non-null) weights matching the reference") {
    // the streaming early-trigger / no-target-survivor state: the
    // target count frame is empty, so the target total must coalesce
    // to 0 (not null-poison every weight in the batch)
    val planted = Seq(
      doc(3L, "spark shuffle partition join", "fr"),
      doc(4L, "zebra yak wombat xerus", "fr"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Corpus.dsirWeights(planted, col("lang") === "en").collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(!r.isNullAt(2), s"doc ${r.getLong(0)} weight must not be null")
    }
    val ref = dsirReference(Seq(
      (3L, "spark shuffle partition join", false),
      (4L, "zebra yak wombat xerus", false)))
    val got = out.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === ref)
  }
}
