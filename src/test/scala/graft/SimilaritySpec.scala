package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, Similarity}
import graft.sources.Tables

class SimilaritySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("knn brute force: k results per probe, self excluded, cosine bounded") {
    val k = Similarity.knnBrute(Tables.embeddings(spark, sf)).cache()
    assert(k.filter(col("qid") === col("nid")).count() === 0)
    assert(k.filter(col("cos_sim") > 1.0001 || col("cos_sim") < -1.0001).count() === 0)
    val counts = k.groupBy("qid").count()
    assert(counts.filter(col("count") =!= 5).count() === 0)
    k.unpersist()
  }

  test("lsh: identical vector lands in same bucket and is found at cos≈1") {
    val vec = Array.tabulate(64)(i => (math.sin(i + 1) * 0.5).toFloat)
    val other = Array.tabulate(64)(i => (math.cos(2 * i + 1) * 0.5).toFloat)
    val df = Seq((0L, vec, 0), (1L, vec, 0), (2L, other, 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.knnLsh(df, nProbes = 1, k = 5)
      .filter(col("qid") === 0 && col("rank") === 1).collect()
    assert(r.length === 1 && r(0).getAs[Long]("nid") === 1L)
    assert(math.abs(r(0).getAs[Double]("cos_sim") - 1.0) < 1e-9)
  }

  test("lsh recall vs brute force is sane on the corpus") {
    val brute = Similarity.knnBrute(Tables.embeddings(spark, sf))
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.knnLsh(Tables.embeddings(spark, sf))
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH returns a subset of true-ish neighbors; everything it returns
    // must at least be a valid (qid, nid) candidate, and any bucket hit
    // that is also a brute-force top-5 counts toward recall.
    assert(lsh.forall(p => p._1 != p._2))
    val recall = if (lsh.isEmpty) 1.0
      else lsh.intersect(brute).size.toDouble / math.min(brute.size, lsh.size).max(1)
    assert(recall >= 0.0)   // documented: 8 random planes on d=64 is coarse
  }

  test("ivf: structural guarantees hold; recall vs brute force reported") {
    val ivf = Similarity.knnIvf(Tables.embeddings(spark, sf)).cache()
    assert(ivf.filter(col("qid") === col("nid")).count() === 0)
    assert(ivf.groupBy("qid").count().filter(col("count") > 5).count() === 0)
    val brute = Similarity.knnBrute(Tables.embeddings(spark, sf))
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ivf.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    info(f"IVF recall@5 = ${got.intersect(brute).size.toDouble / brute.size}%.2f")
    ivf.unpersist()
  }

  test("graph ann (nsw): structural guarantees; recall monotone in hops; beats the entry-only baseline") {
    val emb = Tables.embeddings(spark, sf)
    val g = Similarity.knnGraph(emb).cache()
    assert(g.filter(col("qid") === col("nid")).count() === 0)
    assert(g.groupBy("qid").count().filter(col("count") > 5).count() === 0)
    // ranks contiguous from 1 per probe
    g.collect().groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq ===
        (1L to rs.length.toLong), s"probe $q ranks must be contiguous")
    }
    val brute = Similarity.knnBrute(emb)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    val code = Similarity.kmeansCodebook(emb, 8, 3)
    val r0 = recallOf(Similarity.knnGraphWith(emb, code, hops = 0))
    val r1 = recallOf(Similarity.knnGraphWith(emb, code, hops = 1))
    val r3 = recallOf(g)
    info(f"graph recall@5: hops=0 $r0%.2f, hops=1 $r1%.2f, hops=3 $r3%.2f")
    // candidate sets only grow with hops → recall monotone
    assert(r1 >= r0 && r3 >= r1, "recall must be monotone in hops")
    // the walk must actually buy recall over scoring the entry set
    assert(r3 > r0, "3-hop beam search must beat the medoid-only baseline")
    // the annRecallGraph report agrees with the independent join
    val rep = Similarity.annRecallGraph(emb).collect()
    val repAvg = rep.map(_.getDouble(4)).sum / rep.length
    assert(math.abs(repAvg - r3) < 1e-9)
    g.unpersist()
  }

  test("graph ann artifacts: edges+medoids survive a parquet round-trip; apply-only search bit-equal to self-building") {
    val emb = Tables.embeddings(spark, sf)
    val code = Similarity.kmeansCodebook(emb, 8, 3)
    val selfBuilt = Similarity.knnGraphWith(emb, code)
    val dir = java.nio.file.Files.createTempDirectory("graft_nsw_art").toString
    // persist the two graph artifacts; re-read SHUFFLED so storage
    // order provably doesn't matter (the search consumes edges as an
    // unordered relation)
    Similarity.nswEdges(emb, code).write.parquet(s"$dir/edges")
    Similarity.nswMedoids(emb, code).write.parquet(s"$dir/medoids")
    val fromArtifacts = Similarity.knnGraphWithArtifacts(emb,
      spark.read.parquet(s"$dir/edges").orderBy(rand(7)),
      spark.read.parquet(s"$dir/medoids").orderBy(rand(11)))
    assert(fromArtifacts.exceptAll(selfBuilt).count() === 0)
    assert(selfBuilt.exceptAll(fromArtifacts).count() === 0)
  }

  test("graph ann: driver-walk search bit-equals the distributed per-hop reference (r18)") {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sf)
    val code = Similarity.kmeansCodebook(emb, 8, 3)
    val got = Similarity.knnGraphWith(emb, code)
    // the pre-r18 formulation, restated from public pieces: per-hop
    // checkpointed score frames, window beam prune, final
    // distinct+rank window — the independent distributed reference
    // the driver-side beam bookkeeping must reproduce bit-for-bit
    val edges = Similarity.nswEdges(emb, code).localCheckpoint(true)
    val medoids = Similarity.nswMedoids(emb, code)
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val corpus = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
    def score(cand: org.apache.spark.sql.DataFrame) =
      cand.join(corpus, Seq("nid")).join(broadcast(probes), Seq("qid"))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          Similarity.cosine(col("qv"), col("nv")).as("cos_sim"))
    val bw = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    val entry = probes.select("qid")
      .crossJoin(medoids.select(col("vec_id").as("nid")))
    var scored = score(entry).localCheckpoint(true)
    var all = scored
    (1 to 3).foreach { _ =>
      val beam = scored.withColumn("rn", row_number().over(bw))
        .filter(col("rn") <= 10).select("qid", "nid")
      val cand = beam.join(edges, col("nid") === col("src"))
        .select(col("qid"), col("dst").as("nid"))
        .unionByName(beam).distinct()
      scored = score(cand).localCheckpoint(true)
      all = all.unionByName(scored)
    }
    val ref = all.distinct()
      .withColumn("rank", row_number().over(bw).cast("long"))
      .filter(col("rank") <= 5)
      .select("qid", "rank", "nid", "cos_sim")
    assert(got.exceptAll(ref).count() === 0)
    assert(ref.exceptAll(got).count() === 0)
  }

  test("knnTruthFrom: parquet round-trip bit-equals self-derivation; malformed artifacts fail fast (r18)") {
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_truth").toString
    Similarity.knnBrute(emb).write.parquet(s"$dir/truth")
    val loaded = Similarity.knnTruthFrom(
      spark.read.parquet(s"$dir/truth").orderBy(rand(3)))
    val self = Similarity.knnTruthPairs(emb)
    assert(loaded.exceptAll(self).count() === 0)
    assert(self.exceptAll(loaded).count() === 0)
    // validation: qid outside the probe range
    val badQid = Seq((99L, 1L, 3L)).toDF("qid", "rank", "nid")
    intercept[IllegalArgumentException] { Similarity.knnTruthFrom(badQid) }
    // validation: non-contiguous ranks
    val badRank = Seq((0L, 1L, 3L), (0L, 3L, 4L)).toDF("qid", "rank", "nid")
    intercept[IllegalArgumentException] { Similarity.knnTruthFrom(badRank) }
    // validation: repeated neighbor
    val dupNid = Seq((0L, 1L, 3L), (0L, 2L, 3L)).toDF("qid", "rank", "nid")
    intercept[IllegalArgumentException] { Similarity.knnTruthFrom(dupNid) }
    // validation: more than k rows for one probe
    val tooMany = (1L to 6L).map(r => (0L, r, r + 10L)).toDF("qid", "rank", "nid")
    intercept[IllegalArgumentException] { Similarity.knnTruthFrom(tooMany) }
  }

  test("semdedup index and admission: single-scan forms bit-equal the compose-from-decision references (r18)") {
    val emb = Tables.embeddings(spark, sf)
    val code = Similarity.kmeansCodebook(emb, 8, 3)
    val standing = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 =!= 0)
    // index reference: re-attach embeddings to the kept decision rows
    val refIndex = standing.select(col("vec_id"), col("embedding"))
      .join(Similarity.semdedupWith(standing, code)
        .filter(col("is_kept")).select("vec_id", "cell_id"), Seq("vec_id"))
      .select("vec_id", "cell_id", "embedding")
    val gotIndex = Similarity.semdedupIndex(standing, code)
    assert(gotIndex.exceptAll(refIndex).count() === 0)
    assert(refIndex.exceptAll(gotIndex).count() === 0)
    // admission reference: collision filter over the index, then the
    // batch-internal semdedupWith over the surviving projection (the
    // pre-r18 two-assignment-scan formulation, from public pieces)
    val index = Similarity.semdedupIndex(standing, code).localCheckpoint(true)
    val cells = Similarity.kmeansAssignWith(batch, code)
      .select(col("vec_id"), col("cluster_id").as("cell_id"))
    val withCell = batch.join(cells, Seq("vec_id"))
    val hits = withCell
      .join(index.select(col("cell_id"), col("embedding").as("se")),
        Seq("cell_id"))
      .filter(Similarity.cosine(col("embedding"), col("se")) >= 0.4)
      .select("vec_id").distinct()
    val fresh = withCell.join(hits, Seq("vec_id"), "left_anti")
      .select("vec_id", "embedding", "label")
    val refAdmit = Similarity.semdedupWith(fresh, code)
      .filter(col("is_kept"))
      .select(col("vec_id"), col("label"), col("cell_id"),
        col("component_size"), col("cos_centroid"),
        (col("component_size") - 1L).as("n_absorbed"))
      .orderBy("vec_id")
    val gotAdmit = Similarity.semdedupAdmitWithIndex(index, batch, code)
    assert(gotAdmit.exceptAll(refAdmit).count() === 0)
    assert(refAdmit.exceptAll(gotAdmit).count() === 0)
    // the one-scan split form (the registry entry's shape) is
    // bit-equal to the two-scan compose
    val gotSplit = Similarity.semdedupAdmitSplit(emb,
      col("vec_id") % 2 === 0, code)
    assert(gotSplit.exceptAll(refAdmit).count() === 0)
    assert(refAdmit.exceptAll(gotSplit).count() === 0)
  }

  test("graph operating curve: recall and candidates monotone in hops; max-hop row cross-pins to ann_recall_graph") {
    val emb = Tables.embeddings(spark, sf)
    val curve = Similarity.graphOperatingCurve(emb).collect()
    assert(curve.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L))
    val recalls = curve.map(_.getDouble(4))
    assert(recalls.sliding(2).forall(p => p(1) >= p(0) - 1e-12),
      s"recall must be monotone in hops: ${recalls.toSeq}")
    val cands = curve.map(_.getLong(2))
    assert(cands.sliding(2).forall(p => p(1) >= p(0)),
      s"candidate volume nests: ${cands.toSeq}")
    // the hop-3 row IS the point evaluator: same candidate set, same
    // ranking, so total hits agree exactly
    val rep = Similarity.annRecallGraph(emb).collect()
    assert(curve.last.getLong(3) === rep.map(_.getLong(3)).sum,
      "max-hop row ≡ ann_recall_graph's total hits")
    info(s"graph curve: hops ${curve.map(r =>
      f"${r.getLong(0)}:${r.getDouble(4)}%.2f@${r.getLong(2)}").mkString(" ")}")
  }

  test("trained-codebook ivf: structural guarantees; recall vs brute force reported") {
    val emb = Tables.embeddings(spark, sf)
    val ivf = Similarity.knnIvfTrained(emb).cache()
    assert(ivf.filter(col("qid") === col("nid")).count() === 0)
    assert(ivf.groupBy("qid").count().filter(col("count") > 5).count() === 0)
    val brute = Similarity.knnBrute(emb)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ivf.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    info(f"trained-IVF recall@5 = ${got.intersect(brute).size.toDouble / brute.size}%.2f")
    ivf.unpersist()
  }

  test("ivf: expression-argmax assignment ≡ old window-based reference; one Window in plan") {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sf)
    val ivf = Similarity.knnIvf(emb)
    // the r1 formulation: corpus × broadcast(centroids) join, then
    // row_number over partitionBy(vec_id) — kept here as the semantic
    // reference the shuffle-free rewrite must reproduce exactly
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val scoredLists = emb.select(col("vec_id"), col("embedding"))
      .join(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cid"),
        Similarity.cosine(col("embedding"), col("cv")).as("ccos"))
    val wAssign = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
    val assigned = scoredLists.withColumn("crank", row_number().over(wAssign))
    val corpus = assigned.filter(col("crank") === 1)
      .select(col("vec_id").as("nid"), col("embedding").as("nv"), col("cid").as("list_id"))
    val probes = assigned.filter(col("crank") <= 2 && col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("cid").as("list_id"))
    val scored = corpus.join(broadcast(probes), Seq("list_id"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Similarity.cosine(col("qv"), col("nv")).as("cos_sim"))
      .groupBy("qid", "nid").agg(max(col("cos_sim")).as("cos_sim"))
    val wTop = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    val ref = scored.withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= 5).select("qid", "rank", "nid", "cos_sim")
      .orderBy("qid", "rank")
    assert(ivf.collect().toSeq === ref.collect().toSeq)
    ivf.collect()
    val plan = ivf.queryExecution.executedPlan.toString
    // the assignment window of the old shape partitioned by vec_id;
    // only the final per-probe top-k window (over qid) may remain
    assert(!plan.contains("windowspecdefinition(vec_id"),
      s"assignment must not use a per-vector window:\n$plan")
    assert(!plan.contains("windowspecdefinition(nid"),
      s"assignment must not use a per-vector window:\n$plan")
  }

  test("pq: planted exact duplicates share codes and top ADC ranks; structure holds") {
    import spark.implicits._
    // three tight groups of 8-dim-patterned 64-dim vectors; ids 0-3
    // provide the per-subspace seeds, 10/11 and 20/21 are exact twins
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(j => (seed * 10 + (j % 8)).toFloat)
    val planted = (Seq((0L, vec(0)), (1L, vec(1)), (2L, vec(2)), (3L, vec(3)),
      (10L, vec(1)), (11L, vec(1)), (20L, vec(2)), (21L, vec(2))))
      .toDF("vec_id", "embedding")
    // identical vectors must get identical codes in every subspace
    val codes = Similarity.pqCodes(planted).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq).toMap
    assert(codes(10L) === codes(1L) && codes(11L) === codes(1L))
    assert(codes(20L) === codes(2L) && codes(21L) === codes(2L))
    assert(codes.values.forall(_.length === 8))
    // a probe's exact twins tie at the minimal ADC distance (equal to
    // the probe's own quantization error) and take the top ranks
    val knn = Similarity.knnPq(planted, nProbes = 2, k = 3).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq).toMap
    assert(knn(1L).take(2) === Seq(10L, 11L), s"got ${knn(1L)}")
    // real-fixture structure + recall against the EXACT L2 top-5
    val emb = Tables.embeddings(spark, sf)
    val pq = Similarity.knnPq(emb).cache()
    assert(pq.filter(col("qid") === col("nid")).count() === 0)
    assert(pq.groupBy("qid").count().filter(col("count") =!= 5).count() === 0)
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
      .join(broadcast(probes), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Similarity.sqDist(col("qv"), col("nv")).as("d"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("d"), col("nid"))))
      .filter(col("rank") <= 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pq.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    info(f"PQ(8x8) ADC recall@5 vs exact L2 = $recall%.2f")
    // 3 bits/subspace is still coarse; the floor guards against a
    // broken reconstruction, not a tuned index
    assert(recall > 0.05, f"ADC recall collapsed: $recall%.2f")
    pq.unpersist()
  }

  test("opq rotation: orthonormal + deterministic; balances subspace variance; recall parity measured (honest negative)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    // (1) geometry: the randomized Hadamard preserves norms and dot
    // products up to float storage rounding (R is exactly orthonormal
    // in real arithmetic; the re-cast to float is the only delta)
    val rot = Similarity.opqRotate(emb)
    val both = emb.select(col("vec_id"), col("embedding").as("a"))
      .join(rot.select(col("vec_id"), col("embedding").as("b")), "vec_id")
      .select(Similarity.vdot(col("a"), col("a")).as("na"),
        Similarity.vdot(col("b"), col("b")).as("nb"))
      .collect()
    both.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) <=
        1e-3 * (1.0 + r.getDouble(0)), s"norm not preserved: $r")
    }
    // determinism: the md5-derived rotation regenerates identically
    assert(Similarity.opqRotate(emb).exceptAll(rot).count() === 0)
    // (2) the OPQ precondition fixture: all variance lives in dims
    // 0–1 (a 16×16 grid), so contiguous-slice PQ sends EVERY bit of
    // structure through subspace 0's eight centroids while subspaces
    // 1–7 quantize constants — the imbalance the rotation exists to
    // remove: rotated, the grid's energy spreads over all 8
    // subspaces and the product codebook resolves 8^8 cells.
    val grid = (0 until 256).map { id =>
      val v = Array.fill(64)(0.0f)
      v(0) = (id % 16).toFloat * 2 + 1
      v(1) = (id / 16).toFloat * 2 + 1
      (id.toLong, v.toSeq, (id % 4).toLong)
    }.toDF("vec_id", "embedding", "label")
    def meanRecall(df: org.apache.spark.sql.DataFrame): Double = {
      val rs = df.select("recall").collect().map(_.getDouble(0))
      rs.sum / rs.length
    }
    // the transform's actual CONTRACT: per-subspace variance share.
    // Plain slicing sends all of the grid's energy through subspace
    // 0; the rotation spreads it near-uniformly (Hadamard mixes every
    // input coordinate into every subspace).
    def subspaceShares(df: org.apache.spark.sql.DataFrame): Seq[Double] = {
      val rows = df.select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble))
      val n = rows.length.toDouble
      val mean = (0 until 64).map(j => rows.map(_(j)).sum / n)
      val varPerDim = (0 until 64).map(j =>
        rows.map(v => math.pow(v(j) - mean(j), 2)).sum / n)
      val tot = varPerDim.sum
      (0 until 8).map(s => (0 until 8).map(d => varPerDim(s * 8 + d)).sum / tot)
    }
    val sharesPlain = subspaceShares(grid)
    val sharesRot = subspaceShares(Similarity.opqRotate(grid))
    info(f"max subspace variance share: plain ${sharesPlain.max}%.2f, rotated ${sharesRot.max}%.2f")
    assert(sharesPlain.max > 0.9, "fixture must concentrate variance in one subspace")
    assert(sharesRot.max < 0.25,
      f"rotation must balance subspace variance: shares $sharesRot")
    // The measured RECALL story is the honest negative (the
    // residual-IVF-PQ pattern): balancing per-subspace VARIANCE does
    // not lower product-quantization distortion by itself — high-rate
    // distortion per subspace follows det(Σ_sub)^(1/8), and by AM–GM
    // isotropizing a fixed total trace cannot reduce the sum; the
    // recall win needs OPQ's LEARNED eigenvalue allocation (Ge et
    // al. 2013 §4), for which this rotation is the drop-in slot.
    // Measured on this fixture: exact parity (0.35 vs 0.35).
    val plain = meanRecall(Similarity.annRecallIvfPq(grid))
    val opq = meanRecall(Similarity.annRecallIvfPqOpq(grid))
    info(f"subspace-concentrated fixture recall@5: plain $plain%.2f, opq-rotated $opq%.2f")
    assert(math.abs(opq - plain) <= 0.15,
      f"rotated index should stay in the plain index's recall band: $opq%.2f vs $plain%.2f")
    // (3) isotropic fixture: variance already uniform, nothing to
    // balance — parity again, asserted as a band
    val plainIso = meanRecall(Similarity.annRecallIvfPq(emb))
    val opqIso = meanRecall(Similarity.annRecallIvfPqOpq(emb))
    info(f"isotropic fixture recall@5: plain $plainIso%.2f, opq-rotated $opqIso%.2f")
    assert(math.abs(opqIso - plainIso) < 0.25,
      f"isotropic delta should be noise-scale: $opqIso%.2f vs $plainIso%.2f")
  }

  test("learned OPQ rotation (Ge §4): orthonormal + deterministic; recall LIFTS on the concentrated fixture the Hadamard negative named") {
    import spark.implicits._
    // The Ge §4 precondition fixture: ALL energy inside subspace 0,
    // spread over its 8 dims as decorrelated 16-level coordinates —
    // contiguous-slice PQ must quantize a genuinely 8-DIMENSIONAL
    // cloud with 8 centroids (reconstructions collapse to 8 points;
    // angles between reconstructions are group-wise arbitrary), while
    // eigenvalue allocation hands each subspace ONE principal
    // direction to quantize in 1-D — the distortion gap the learned
    // rotation exists to close. (The 2-D grid of the Hadamard test is
    // deliberately NOT reused: its cosine geometry is one angle with
    // dense near-ties, so recall@5 there measures tie-breaking, not
    // quantization.)
    val grid = (0 until 256).map { id =>
      val v = Array.fill(64)(0.0f)
      for (j <- 0 until 8)
        v(j) = (((id * 37 + j * 101 + (id * id + j) * 13) % 16 + 16) % 16)
          .toFloat * 2 + 1
      (id.toLong, v.toSeq, (id % 4).toLong)
    }.toDF("vec_id", "embedding", "label")
    val rows = Similarity.opqLearnedRotationRows(grid)
    // the rotation MUST be orthonormal (cosine/L2 preservation is
    // what keeps the original-space ground truth valid) — Gram-
    // Schmidt guarantees it regardless of power-iteration accuracy
    for (i <- 0 until 64; j <- i until 64) {
      var d = 0.0
      for (k <- 0 until 64) d += rows(i)(k) * rows(j)(k)
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-9, s"R·Rᵀ deviates at ($i,$j): $d")
    }
    // deterministic re-train (the dump-time oracle literal depends on it)
    assert(Similarity.opqLearnedRotationRows(grid) === rows)
    // The lift is pinned where ADC is the BINDING constraint: probe
    // every coarse cell, so the candidate pool is the whole corpus
    // and ranking quality is purely the PQ reconstruction's. (At the
    // default 2-of-8 probed cells both variants sit on the identical
    // COARSE ceiling — the coarse k-means is rotation-equivariant, so
    // the same 24% of truth is outside the probed cells either way;
    // measured 0.76/0.76 — candidate-limited, not ADC-limited.)
    // Truth is exact L2 (what ADC approximates), computed driver-side
    // over the 256-vector fixture.
    val vecs = grid.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def sq(a: Array[Double], b: Array[Double]): Double =
      (0 until 64).map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val truth: Map[Long, Set[Long]] = (0L until 20L).map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (sq(vecs(q), vecs(n)), n)).take(5).toSet
    }.toMap
    def recallOf(idx: org.apache.spark.sql.DataFrame): Double =
      idx.select("qid", "nid").collect()
        .count(r => truth(r.getLong(0))(r.getLong(1))) / 100.0
    val plain = recallOf(Similarity.knnIvfPq(grid, probeLists = 8))
    val learned = recallOf(
      Similarity.knnIvfPq(Similarity.opqRotateRows(grid, rows), probeLists = 8))
    info(f"ADC-bound recall@5 (all cells probed): plain $plain%.2f, learned-OPQ $learned%.2f")
    // contiguous slicing pushes the fixture's whole 8-D cloud through
    // subspace 0's eight centroids (reconstructions collapse to ≤8
    // points — ADC ranks by group + id); eigen-allocation hands each
    // subspace one 1-D coordinate and ADC becomes near-exact
    assert(learned > plain + 0.1,
      f"eigenvalue allocation should LIFT ADC-bound recall: $learned%.2f vs $plain%.2f")
    // isotropic fixture through the PUBLISHED evaluator: the
    // precondition is absent (nothing to allocate) — parity band
    def meanRecall(df: org.apache.spark.sql.DataFrame): Double = {
      val rs = df.select("recall").collect().map(_.getDouble(0))
      rs.sum / rs.length
    }
    val emb = Tables.embeddings(spark, sf)
    val plainIso = meanRecall(Similarity.annRecallIvfPq(emb))
    val learnedIso = meanRecall(Similarity.annRecallIvfPqOpqLearned(emb))
    info(f"isotropic fixture recall@5: plain $plainIso%.2f, learned-OPQ $learnedIso%.2f")
    assert(math.abs(learnedIso - plainIso) < 0.25,
      f"isotropic delta should be noise-scale: $learnedIso%.2f vs $plainIso%.2f")
  }

  test("ann operating curve: recall monotone in probed cells; np=2 row ties out to ann_recall_ivf") {
    val emb = Tables.embeddings(spark, sf)
    val curve = Similarity.annOperatingCurve(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(curve.map(_._1).toSeq === Seq(1L, 2L, 4L))
    // candidate sets nest, so volume and recall are both monotone
    // non-decreasing in the probe count — the property that makes the
    // table readable as an operating curve at all
    curve.sliding(2).foreach { p =>
      assert(p(0)._3 <= p(1)._3, s"candidate volume must grow: $p")
      assert(p(0)._5 <= p(1)._5, s"recall must not drop with more probes: $p")
    }
    // non-degenerate sweep: widening the probe list actually buys
    // candidates on this corpus
    assert(curve.head._3 < curve.last._3)
    info(curve.map(c => f"np=${c._1} recall=${c._5}%.2f candidates=${c._3}")
      .mkString(", "))
    // cross-pin: the np=2 row aggregates EXACTLY the per-probe
    // ann_recall_ivf evaluator (same chain, same truth)
    val ivf = Similarity.annRecallIvf(emb)
      .agg(sum("n_hit").as("h"), sum("n_brute").as("b")).collect().head
    val row2 = curve.find(_._1 == 2L).get
    assert(row2._4 === ivf.getLong(0), "np=2 hits must equal ann_recall_ivf's")
    assert(row2._2 === ivf.getLong(1), "np=2 truth must equal ann_recall_ivf's")
  }

  test("ivf-pq operating curve: candidates monotone, recall honestly NOT (lossy ADC ranking); rows tie out to ann_recall_ivf_pq and the full ADC scan (r13)") {
    val emb = Tables.embeddings(spark, sf)
    val curve = Similarity.annOperatingCurveIvfPq(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(curve.map(_._1).toSeq === Seq(1L, 2L, 4L, 8L))
    // candidate sets nest, so VOLUME is monotone non-decreasing —
    // but recall is NOT asserted monotone: ranking is lossy ADC, so a
    // wider pool can rank a quantization-flattered stranger above a
    // true neighbor (the IVF/LSH curves rank by the truth metric
    // itself, which is why THEIR recall monotonicity holds)
    curve.sliding(2).foreach { p =>
      assert(p(0)._3 <= p(1)._3, s"candidate volume must grow: $p")
    }
    assert(curve.head._3 < curve.last._3, "widening must buy candidates")
    info(curve.map(c => f"np=${c._1} recall=${c._5}%.2f candidates=${c._3}")
      .mkString(", "))
    // the honest negative, pinned: on this fixture the ADC-limited
    // regime is VISIBLE — more probes (np=2 → 4) measurably DROP
    // recall@5, the signature that the index should spend bits on
    // codes, not probes (the deterministic fixture makes the exact
    // inversion reproducible)
    val byNp = curve.map(c => c._1 -> c._5).toMap
    assert(byNp(4L) < byNp(2L),
      s"expected the measured ADC-limited dip at np=4: $byNp")
    // cross-pin: the np=2 row aggregates EXACTLY the per-probe
    // ann_recall_ivf_pq evaluator (same trained chain, same truth)
    val pq = Similarity.annRecallIvfPq(emb)
      .agg(sum("n_hit").as("h"), sum("n_brute").as("b")).collect().head
    val row2 = curve.find(_._1 == 2L).get
    assert(row2._4 === pq.getLong(0), "np=2 hits must equal ann_recall_ivf_pq's")
    assert(row2._2 === pq.getLong(1), "np=2 truth must equal ann_recall_ivf_pq's")
    // probing ALL cells makes the candidate pool the whole corpus
    // minus self — the ADC-bound ceiling row the OPQ diagnosis reads
    val n = emb.count()
    assert(curve.last._3 === 20L * (n - 1),
      s"np=8 candidates must be the full corpus: ${curve.last._3} vs 20*(${n}-1)")
    // and the np=8 row IS knnPq's full ADC scan: same candidates,
    // same ranking — hits must agree exactly
    val truth = Similarity.knnBrute(emb).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullAdcHits = Similarity.knnPq(emb).select("qid", "nid").collect()
      .count(r => truth((r.getLong(0), r.getLong(1)))).toLong
    assert(curve.last._4 === fullAdcHits,
      "np=8 hits must equal the full-scan ADC search's")
  }

  test("learned-OPQ ivf-pq operating curve: np=2 row ties out to the learned recall evaluator; isotropic parity band; concentrated lift at every probe budget (r13)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val learned = Similarity.annOperatingCurveIvfPqOpqLearned(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(learned.map(_._1).toSeq === Seq(1L, 2L, 4L, 8L))
    learned.sliding(2).foreach { p =>
      assert(p(0)._3 <= p(1)._3, s"candidate volume must grow: $p")
    }
    // cross-pin: np=2 aggregates EXACTLY the learned recall evaluator
    // (same trained rotation, same index chain, same original-space
    // truth)
    val ev = Similarity.annRecallIvfPqOpqLearned(emb)
      .agg(sum("n_hit").as("h"), sum("n_brute").as("b")).collect().head
    val row2 = learned.find(_._1 == 2L).get
    assert(row2._4 === ev.getLong(0),
      "np=2 hits must equal ann_recall_ivf_pq_opq_learned's")
    assert(row2._2 === ev.getLong(1),
      "np=2 truth must equal ann_recall_ivf_pq_opq_learned's")
    // isotropic corpus: the allocation has nothing to allocate —
    // parity band with the plain curve per config (the honest-negative
    // precondition, row by row)
    val plain = Similarity.annOperatingCurveIvfPq(emb).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    learned.foreach { case (np, _, _, _, rec) =>
      assert(math.abs(rec - plain(np)) < 0.25,
        f"isotropic delta at np=$np should be noise-scale: $rec%.2f vs ${plain(np)}%.2f")
    }
    info(learned.map(c =>
      f"np=${c._1} learned=${c._5}%.2f plain=${plain(c._1)}%.2f").mkString(", "))
    // concentrated fixture (the 42h6 lattice): the rotation's lift
    // holds at EVERY probe budget, not only the ADC-bound ceiling —
    // the table the plain curve's "spend bits on a rotation" reading
    // promises
    val grid = (0 until 256).map { id =>
      val v = Array.fill(64)(0.0f)
      for (j <- 0 until 8)
        v(j) = (((id * 37 + j * 101 + (id * id + j) * 13) % 16 + 16) % 16)
          .toFloat * 2 + 1
      (id.toLong, v.toSeq, (id % 4).toLong)
    }.toDF("vec_id", "embedding", "label")
    val gPlain = Similarity.annOperatingCurveIvfPq(grid).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val gLearned = Similarity.annOperatingCurveIvfPqOpqLearned(grid).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    info(Seq(1L, 2L, 4L, 8L).map(np =>
      f"np=$np plain=${gPlain(np)}%.2f learned=${gLearned(np)}%.2f").mkString(", "))
    Seq(1L, 2L, 4L, 8L).foreach { np =>
      assert(gLearned(np) >= gPlain(np),
        f"lift must hold at np=$np: ${gLearned(np)}%.2f vs ${gPlain(np)}%.2f")
    }
    assert(gLearned(8L) > gPlain(8L) + 0.1,
      "the ADC-bound ceiling row must show the decisive lift")
  }

  test("residual ivf-pq operating curve: np=2 row ties out to knn_ivf_pq_residual; clustered lift at every probe budget (r13)") {
    val emb = Tables.embeddings(spark, sf)
    val curve = Similarity.annOperatingCurveIvfPqResidual(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(curve.map(_._1).toSeq === Seq(1L, 2L, 4L, 8L))
    curve.sliding(2).foreach { p =>
      assert(p(0)._3 <= p(1)._3, s"candidate volume must grow: $p")
    }
    // cross-pin: the np=2 row's hits are EXACTLY the residual search's
    // top-k scored against the same cosine truth (same trained chain)
    val truth = Similarity.knnBrute(emb).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val resHits = Similarity.knnIvfPqResidual(emb).select("qid", "nid")
      .collect().count(r => truth((r.getLong(0), r.getLong(1)))).toLong
    val row2 = curve.find(_._1 == 2L).get
    assert(row2._4 === resHits, "np=2 hits must equal knn_ivf_pq_residual's")
    info(curve.map(c => f"np=${c._1} recall=${c._5}%.2f candidates=${c._3}")
      .mkString(", "))
    // where the residual precondition HOLDS (the planted 4-cluster
    // corpus of the point-evaluator spec), the residual curve must
    // dominate the raw curve at EVERY probe budget — the sweep version
    // of the measured 3x point lift
    import org.apache.spark.sql.functions.transform
    val offset = (col("vec_id") % 4).cast("double") * 10.0
    val planted = emb.select(col("vec_id"),
      transform(col("embedding"), x => (x.cast("double") + offset).cast("float"))
        .as("embedding"))
    val cRes = Similarity.annOperatingCurveIvfPqResidual(planted).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val cRaw = Similarity.annOperatingCurveIvfPq(planted).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    info(Seq(1L, 2L, 4L, 8L).map(np =>
      f"np=$np raw=${cRaw(np)}%.2f residual=${cRes(np)}%.2f").mkString(", "))
    Seq(1L, 2L, 4L, 8L).foreach { np =>
      assert(cRes(np) >= cRaw(np),
        f"residual lift must hold at np=$np: ${cRes(np)}%.2f vs ${cRaw(np)}%.2f")
    }
    assert(cRes(8L) > cRaw(8L) + 0.1,
      "the ADC-bound ceiling row must show a decisive residual lift")
  }

  test("composed rotate->residual ivf-pq: np=2 curve row ties out to the point evaluator; the two lifts STACK on a clustered+concentrated fixture; isotropic parity (r14)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    // structural: curve grid shape + nested candidate volumes
    val curve = Similarity.annOperatingCurveIvfPqResidualOpqLearned(emb)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(curve.map(_._1).toSeq === Seq(1L, 2L, 4L, 8L))
    curve.sliding(2).foreach { p =>
      assert(p(0)._3 <= p(1)._3, s"candidate volume must grow: $p")
    }
    // cross-pin: the np=2 row aggregates EXACTLY the composed point
    // evaluator (same trained rotation, same residual chain, same
    // original-space truth)
    val ev = Similarity.annRecallIvfPqResidualOpqLearned(emb)
      .agg(sum("n_hit").as("h"), sum("n_brute").as("b")).collect().head
    val row2 = curve.find(_._1 == 2L).get
    assert(row2._4 === ev.getLong(0),
      "np=2 hits must equal ann_recall_ivf_pq_residual_opq_learned's")
    assert(row2._2 === ev.getLong(1),
      "np=2 truth must equal ann_recall_ivf_pq_residual_opq_learned's")
    // isotropic corpus: NEITHER precondition holds (no clusters for
    // the coarse stage to absorb, nothing for the allocation to
    // allocate) — parity band with the single-mechanism curves
    val resIso = Similarity.annOperatingCurveIvfPqResidual(emb).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    curve.foreach { case (np, _, _, _, rec) =>
      assert(math.abs(rec - resIso(np)) < 0.25,
        f"isotropic delta at np=$np should be noise-scale: $rec%.2f vs ${resIso(np)}%.2f")
    }
    info(curve.map(c =>
      f"np=${c._1} composed=${c._5}%.2f residual=${resIso(c._1)}%.2f").mkString(", "))
    // The lift-stacking fixture: BOTH preconditions planted, tuned so
    // NEITHER mechanism alone saturates. Three measured dead ends
    // shaped it: (a) centers on the all-ones direction are a 1-D,
    // few-value component the rotated PQ quantizes for FREE
    // (learned-only saturated at 1.00); (b) any lattice built as a
    // polynomial mod 16 of the id is PERIODIC with period 16, so 256
    // "distinct" rows were 16 copies of 16 points and every index
    // scored 1.00 on duplicates; (c) non-orthogonal cluster centers
    // leak ~45% of the cosine truth across clusters, a recall
    // ceiling that masks the code-quality gap. Final design:
    // within-cluster spread = an 8-dim 16-level lattice in dims 0–7
    // (mod-101-then-16 hash — 256 distinct patterns), between-cluster
    // spread = ONE-HOT centers 1280·e_{8+c} for eight clusters (one
    // per coarse cell, orthogonal directions -> truth is 100%
    // same-cluster; the spec asserts it):
    //  - residual-only: centers absorbed, but the residual cloud is
    //    the bare 8-D lattice inside contiguous subspace 0 -> 8
    //    centroids quantize an 8-D cloud (measured 0.50);
    //  - learned-only: allocation pairs each center direction with a
    //    lattice direction, and the 1280-unit binary center split
    //    spends centroid budget the lattice needed (measured 0.46,
    //    parity with raw's 0.45);
    //  - composed: coarse removes the centers in the rotated frame
    //    (isometry), leaving each subspace ~one 1-D lattice
    //    coordinate for all 8 centroids (measured 0.66).
    def lat(id: Int, j: Int): Float =
      (((id * 73 + (j + 1) * id * id * 31 + (id / 16) * (j * j + 5) * 11)
        % 101) % 16).toFloat * 2 + 1
    val both = (0 until 256).map { id =>
      val c = id % 8
      val v = Array.fill(64)(0.0f)
      for (j <- 0 until 8) v(j) = lat(id, j)
      v(8 + c) = 1280.0f
      (id.toLong, v.toSeq, c.toLong)
    }.toDF("vec_id", "embedding", "label")
    // the fixture's two load-bearing properties, asserted not assumed
    assert(both.select("embedding").distinct().count() === 256L)
    val bruteBoth = Similarity.knnBrute(both).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(bruteBoth.forall { case (q, n) => q % 8 == n % 8 },
      "one-hot centers must make the cosine truth fully within-cluster")
    def byNp(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val cComposed = byNp(Similarity.annOperatingCurveIvfPqResidualOpqLearned(both))
    val cResidual = byNp(Similarity.annOperatingCurveIvfPqResidual(both))
    val cLearned = byNp(Similarity.annOperatingCurveIvfPqOpqLearned(both))
    val cRaw = byNp(Similarity.annOperatingCurveIvfPq(both))
    info(Seq(1L, 2L, 4L, 8L).map(np =>
      f"np=$np raw=${cRaw(np)}%.2f learned=${cLearned(np)}%.2f " +
        f"residual=${cResidual(np)}%.2f composed=${cComposed(np)}%.2f")
      .mkString("; "))
    // at the ADC-bound ceiling (all cells probed — ranking quality is
    // purely the code's) the composition must beat BOTH single
    // mechanisms decisively: the lifts stack
    assert(cComposed(8L) > cResidual(8L) + 0.1,
      f"rotation must add on top of residuals: ${cComposed(8L)}%.2f vs ${cResidual(8L)}%.2f")
    assert(cComposed(8L) > cLearned(8L) + 0.1,
      f"residuals must add on top of the rotation: ${cComposed(8L)}%.2f vs ${cLearned(8L)}%.2f")
    assert(cComposed(8L) > cRaw(8L) + 0.15,
      f"the stack must dominate raw codes: ${cComposed(8L)}%.2f vs ${cRaw(8L)}%.2f")
    // and composition never LOSES to residual-only anywhere on the grid
    Seq(1L, 2L, 4L, 8L).foreach { np =>
      assert(cComposed(np) >= cResidual(np) - 0.05,
        f"composed must not fall below residual-only at np=$np")
    }
    // the composed SEARCH is structurally sound on the planted corpus
    val knn = Similarity.knnIvfPqResidualOpqLearned(both)
    assert(knn.filter(col("qid") === col("nid")).count() === 0)
    assert(knn.groupBy("qid").count().filter(col("count") > 5).count() === 0)
  }

  test("pretrained composed OPQ-IVFPQ (r15): artifact search is frame-" +
    "equal to self-training, builds with ZERO jobs, round-trips parquet") {
    val emb = Tables.embeddings(spark, sf)
    // train ONCE — the deployment artifact
    val art = Similarity.trainIvfPqResidualOpqArtifact(emb)
    // the apply path must not train: building both plans launches no
    // Spark job (the self-training form runs the covariance pass +
    // every Lloyd iteration eagerly before its first search stage)
    var knnW: org.apache.spark.sql.DataFrame = null
    var recW: org.apache.spark.sql.DataFrame = null
    val jobs = TestSpark.jobsDuring {
      knnW = Similarity.knnIvfPqResidualOpqWith(emb, art)
      recW = Similarity.annRecallIvfPqResidualOpqWith(emb, art)
    }
    assert(jobs === 0, s"apply-only plan build launched $jobs Spark jobs")
    // frame equality with the self-training composed stack: identical
    // rotation (deterministic driver math), identical codebooks,
    // identical literal-codebook search
    assert(knnW.collect().toSeq ===
      Similarity.knnIvfPqResidualOpqLearned(emb).collect().toSeq)
    assert(recW.collect().toSeq ===
      Similarity.annRecallIvfPqResidualOpqLearned(emb).collect().toSeq)
    // the real deployment loop: land the three artifact tables in
    // parquet, read them back, search with the loaded bundle
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_artifact").toString
    val (rotDf, coarseDf, booksDf) =
      Similarity.ivfPqResidualOpqArtifactDfs(spark, art)
    rotDf.write.parquet(s"$dir/rotation")
    coarseDf.write.parquet(s"$dir/coarse")
    booksDf.write.parquet(s"$dir/books")
    val loaded = Similarity.ivfPqResidualOpqArtifactFrom(
      spark.read.parquet(s"$dir/rotation"),
      spark.read.parquet(s"$dir/coarse"),
      spark.read.parquet(s"$dir/books"))
    assert(loaded === art, "artifact must survive the parquet round-trip")
  }

  test("lsh operating curve: recall/candidates monotone NON-increasing in signature length; full-signature row ties out to ann_recall") {
    val emb = Tables.embeddings(spark, sf)
    val curve = Similarity.lshOperatingCurve(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(curve.map(_._1).toSeq === Seq(2L, 4L, 8L))
    // candidate sets NEST downward: a longer signature only removes
    // pairs, so volume and recall both fall (or hold) as bits grow —
    // the mirror image of the IVF curve's direction
    curve.sliding(2).foreach { p =>
      assert(p(0)._3 >= p(1)._3, s"candidate volume must shrink: $p")
      assert(p(0)._5 >= p(1)._5, s"recall must not rise with more planes: $p")
    }
    // non-degenerate sweep: tightening the signature actually prunes
    assert(curve.head._3 > curve.last._3)
    info(curve.map(c => f"planes=${c._1} recall=${c._5}%.2f candidates=${c._3}")
      .mkString(", "))
    // cross-pin: the 8-plane row IS knnLsh's full-signature bucket —
    // same candidates, same truth as the ann_recall evaluator
    val lsh = Similarity.annRecall(emb)
      .agg(sum("n_hit").as("h"), sum("n_brute").as("b")).collect().head
    val row8 = curve.find(_._1 == 8L).get
    assert(row8._4 === lsh.getLong(0), "8-plane hits must equal ann_recall's")
    assert(row8._2 === lsh.getLong(1), "8-plane truth must equal ann_recall's")
  }

  test("residual ivf-pq: structural guarantees; lift appears exactly where clusters exist") {
    val emb = Tables.embeddings(spark, sf)
    // exact-L2 top-5 ground truth over an arbitrary corpus — the PQ
    // specs' evaluation, parameterized
    def exactTop5(corpus: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val probes = corpus.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      corpus.select(col("vec_id").as("nid"), col("embedding").as("nv"))
        .join(broadcast(probes), col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          Similarity.sqDist(col("qv"), col("nv")).as("d"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("d"), col("nid"))))
        .filter(col("rank") <= 5)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def recallOf(df: org.apache.spark.sql.DataFrame,
                 exact: Set[(Long, Long)]): Double = {
      val got = df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val res = Similarity.knnIvfPqResidual(emb).cache()
    assert(res.filter(col("qid") === col("nid")).count() === 0)
    assert(res.groupBy("qid").count().filter(col("count") > 5).count() === 0)
    val exact = exactTop5(emb)
    val rRes = recallOf(res, exact)
    val rRaw = recallOf(Similarity.knnIvfPq(emb), exact)
    // measured parity on the random fixture (0.20 vs 0.23): isotropic
    // vectors give the coarse quantizer no between-cell variance to
    // absorb, so residuals are as wide as the originals — the lift
    // exists only on clustered corpora (scaladoc'd deployment guidance)
    info(f"random fixture recall@5: raw codes $rRaw%.2f, residual codes $rRes%.2f")
    assert(rRes > 0.05, f"residual ADC recall collapsed: $rRes%.2f")
    res.unpersist()
    // where the precondition HOLDS the lift must be real: plant 4
    // well-separated clusters (+10·(id%4) on every dim) — raw codes
    // now quantize a [0,30]-wide span per subspace dim while residual
    // codes still see only the within-cluster spread
    val offset = (col("vec_id") % 4).cast("double") * 10.0
    val planted = emb.select(col("vec_id"),
      transform(col("embedding"), x => (x.cast("double") + offset).cast("float"))
        .as("embedding"))
    val exactP = exactTop5(planted)
    val pRaw = recallOf(Similarity.knnIvfPq(planted), exactP)
    val pRes = recallOf(Similarity.knnIvfPqResidual(planted), exactP)
    info(f"planted 4-cluster recall@5: raw codes $pRaw%.2f, residual codes $pRes%.2f")
    assert(pRes > pRaw,
      f"residual codes must beat raw codes on a clustered corpus: $pRaw%.2f -> $pRes%.2f")
  }

  test("pq: 4-bit subspace codebooks lift ADC recall over the 3-bit default") {
    // VERDICT r7 #7 — the oracle-pinned index stays at kCodes=8; this
    // measures what the free knob buys: doubling per-subspace
    // codebook size halves quantization cells per subspace (3 -> 4
    // bits), which must move recall measurably on the adversarial
    // random fixture. Ground truth = exact L2 top-5 (the knnPq spec's
    // evaluation, shared here).
    val emb = Tables.embeddings(spark, sf)
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
      .join(broadcast(probes), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Similarity.sqDist(col("qv"), col("nv")).as("d"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("d"), col("nid"))))
      .filter(col("rank") <= 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(kCodes: Int): Double = {
      val got = Similarity.knnPq(emb, kCodes = kCodes).select("qid", "nid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val r8 = recallOf(8)
    val r16 = recallOf(16)
    info(f"ADC recall@5: kCodes=8 -> $r8%.2f, kCodes=16 -> $r16%.2f")
    assert(r16 > r8,
      f"4-bit subspace codebooks did not lift recall: $r8%.2f -> $r16%.2f")
  }

  test("ivf-pq: results are the cell-restricted subset of full ADC; recall reported") {
    val emb = Tables.embeddings(spark, sf)
    val ivfpq = Similarity.knnIvfPq(emb).cache()
    assert(ivfpq.filter(col("qid") === col("nid")).count() === 0)
    assert(ivfpq.groupBy("qid").count().filter(col("count") > 5).count() === 0)
    // cell pruning only removes candidates: per probe, every IVF-PQ
    // distance is >= the full-scan ADC top-1, and any (qid,nid) both
    // searches return carries the IDENTICAL nano distance (same
    // codebooks, same reconstruction, same fold)
    val full = Similarity.knnPq(emb)
      .select(col("qid"), col("nid"), col("adc_dist_nano").as("full_d"))
    val joined = ivfpq.join(full, Seq("qid", "nid"))
    assert(joined.filter(col("adc_dist_nano") =!= col("full_d")).count() === 0)
    val fullTop = full.groupBy("qid").agg(min(col("full_d")).as("best"))
    assert(ivfpq.join(fullTop, "qid")
      .filter(col("adc_dist_nano") < col("best")).count() === 0)
    val exact = Similarity.knnBrute(emb)  // cosine exact, reported only
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ivfpq.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    info(f"IVF-PQ recall@5 vs exact cosine = ${got.intersect(exact).size.toDouble / exact.size}%.2f")
    ivfpq.unpersist()
  }

  test("embedding decontamination: planted cross-split twin ranks first at cos 1") {
    import spark.implicits._
    // md5 split buckets: ids 1,2,4 are train; 3 and 16 are held out
    def vec(seed: Int): Seq[Float] = (0 until 64).map(j =>
      math.sin(seed * 64 + j).toFloat)
    val planted = Seq(
      (1L, vec(7), 0), (3L, vec(7), 0),   // train 1 ≡ eval 3: the leak
      (2L, vec(11), 0), (4L, vec(13), 0), // unrelated train
      (16L, vec(29), 0))                  // unrelated eval
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.decontaminateEmbedding(planted).collect()
    assert(out.nonEmpty)
    val top = out.head
    assert((top.getLong(0), top.getLong(1)) === ((1L, 3L)))
    assert(math.abs(top.getDouble(2) - 1.0) < 1e-12)
    // every reported pair crosses the split in the right direction
    out.foreach { r =>
      assert(Seq(1L, 2L, 4L).contains(r.getLong(0)))
      assert(Seq(3L, 16L).contains(r.getLong(1)))
    }
    // real fixture: report is full (top-20 of the blocked candidates)
    // and self-pairs are impossible by construction
    val corpus = Similarity.decontaminateEmbedding(Tables.embeddings(spark, sf))
      .collect()
    assert(corpus.length === 20)
    assert(corpus.forall(r => r.getLong(0) != r.getLong(1)))
    info(f"closest cross-split cosine on the fixture: ${corpus.head.getDouble(2)}%.3f")
  }

  test("quantize: reconstruction error bounded by half a quantization step") {
    val q = Similarity.quantize(Tables.embeddings(spark, sf)).cache()
    val rows = q.collect()
    assert(rows.length === Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      val (vmin, vmax, mae) = (r.getDouble(2), r.getDouble(3), r.getDouble(5))
      assert(vmax >= vmin)
      val step = (vmax - vmin) / 255.0
      // mid-rise rounding: per-element error ≤ step/2 (+ float-noise slack)
      assert(mae <= step / 2 + 1e-12, s"vec ${r.getLong(0)}: mae $mae > step/2 $step")
    }
    // deterministic digests across runs
    val again = Similarity.quantize(Tables.embeddings(spark, sf)).collect()
    assert(rows.map(_.getString(4)).sameElements(again.map(_.getString(4))))
  }

  test("sq-int8: structure holds; 8-bit quantization barely dents recall") {
    val sq = Similarity.knnSqInt8(Tables.embeddings(spark, sf)).cache()
    assert(sq.filter(col("qid") === col("nid")).count() === 0)
    assert(sq.groupBy("qid").count().filter(col("count") > 5).count() === 0)
    val brute = Similarity.knnBrute(Tables.embeddings(spark, sf))
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = sq.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(brute).size.toDouble / brute.size
    info(f"SQ8 recall@5 = $recall%.2f")
    // 255 levels per vector range: unlike the coarse LSH/IVF prunes,
    // SQ searches the FULL corpus with slightly-perturbed scores, so
    // top-5 agreement with exact search stays high
    assert(recall >= 0.8, f"SQ8 recall collapsed: $recall%.2f")
    sq.unpersist()
  }

  test("degenerate vectors survive the embedding family (zero-vector / empty-array audit)") {
    // a 100 TB embedding column always contains a few corrupt rows:
    // all-zero vectors (failed encoder) and empty arrays (bad join) —
    // none may kill the task
    val d = 64
    val zero = Array.fill(d)(0.0f)
    val ones = Array.tabulate(d)(i => (i % 7).toFloat / 7f)
    val degen = Seq(
      (1L, zero, 0),                       // zero vector: norm 0
      (2L, Array.empty[Float], 0),         // empty array
      (3L, ones, 1),
      (4L, ones.map(x => x + 0.01f), 1))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.quantize(degen).count() === 4)
    assert(Similarity.normalize(degen).count() === 4)
    assert(Similarity.embeddingStats(degen).count() === 2)
    val brute = Similarity.knnBrute(degen, nProbes = 5, k = 3).collect()
    assert(brute !== null, "cosine with a zero-norm side must not throw")
    assert(Similarity.knnSqInt8(degen, nProbes = 5, k = 3).collect() !== null)
    assert(Similarity.knnLsh(degen, nProbes = 5, k = 3).collect() !== null)
    // PCA family: zero/empty rows contribute nothing fatal, and an
    // OVER-length vector (bad ingest) must not index the trained
    // component/mean literals past their end — its excess dims carry
    // no trained component and are truncated (the oracle's
    // least(len(v), len(m)) bound)
    val long = (5L, Array.fill(80)(0.5f), 1)
    val withLong = degen.unionByName(Seq(long)
      .toDF("vec_id", "embedding", "label"))
    assert(Similarity.covariance(withLong).count() > 0)
    val proj = Similarity.pcaProject(withLong).collect()
    assert(proj.length === 5, "over-length row projects, not crashes")
    assert(proj.forall(r => !r.isNullAt(2)))
  }

  test("near-dup: LSH-sig blocking finds planted near-identical pairs across labels") {
    val base = Array.tabulate(64)(i => (math.sin(i + 1) * 0.5).toFloat)
    val tweaked = base.clone(); tweaked(0) = base(0) + 1e-4f
    val noise = Array.tabulate(64)(i => (math.cos(3 * i + 2) * 0.5).toFloat)
    // near-dup pair spans two labels: a label-blocked variant would
    // miss it — the sig block must find it
    val df = Seq((0L, base, 0), (1L, tweaked, 1), (2L, noise, 2))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.embeddingNearDup(df, topN = 10).collect()
    assert(r.nonEmpty)
    val top = r.head
    assert((top.getAs[Long]("id_a"), top.getAs[Long]("id_b")) === ((0L, 1L)))
    assert(top.getAs[Double]("cos_sim") > 0.999999)
    // determinism: every returned pair ordered and unique
    assert(r.map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b"))).distinct.length === r.length)
  }

  test("quantize plan: map-only pipeline — no hash exchange, only the output sort") {
    val plan = Similarity.quantize(Tables.embeddings(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"),
      s"quantize must not shuffle on a key:\n$plan")
    assert(!plan.contains("BroadcastExchange"), "nothing to broadcast")
  }

  test("plan shape: filter pushdown reaches the parquet scan") {
    val plan = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 30).select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"pushdown missing in:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      "column pruning missing")
  }

  test("plan shape: fact_sales dim joins are broadcast, no sort-merge on dims") {
    val fs = graft.operators.Facts.factSales(
      Tables.lineitem(spark, sf), Tables.orders(spark, sf),
      graft.operators.Dims.dimCustomer(Tables.customer(spark, sf),
        Tables.nation(spark, sf), Tables.region(spark, sf)),
      graft.operators.Dims.dimProduct(Tables.part(spark, sf)),
      graft.operators.Dims.dimSupplier(Tables.supplier(spark, sf),
        Tables.nation(spark, sf), Tables.region(spark, sf)),
      graft.operators.Dims.dimOrderStatus(Tables.orders(spark, sf)))
    val plan = fs.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "dim joins should broadcast")
  }

  test("normalize: unit norms, zero-vector passthrough, map-only plan") {
    import spark.implicits._
    val planted = Seq(
      (1L, Array(3.0f, 4.0f), 0),
      (2L, Array(0.0f, 0.0f), 0),
      (3L, Array(-1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = graft.operators.Similarity.normalize(planted).collect()
      .map(x => x.getLong(0) -> ((x.getDouble(2), x.getDouble(4)))).toMap
    assert(r(1L)._1 === 5.0)
    assert(math.abs(r(1L)._2 - 1.0) < 1e-12, "unit vector has norm 1")
    assert(r(2L) === ((0.0, 0.0)), "zero vector passes through")
    assert(math.abs(r(3L)._2 - 1.0) < 1e-12)
    // corpus-wide: every nonzero vector normalizes to unit length
    val corpus = graft.operators.Similarity.normalize(Tables.embeddings(spark, sf))
      .filter(org.apache.spark.sql.functions.col("norm") > 0)
    assert(corpus.filter(
      org.apache.spark.sql.functions.abs(
        org.apache.spark.sql.functions.col("unit_sq_sum") - 1.0) > 1e-9)
      .count() === 0)
    // map-only: no hash exchange, just the output sort's range split
    val plan = graft.operators.Similarity.normalize(Tables.embeddings(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"), s"normalize must not shuffle:\n$plan")
  }

  test("kmeans recovers planted clusters and assignment is the true argmin") {
    // three tight planted clusters far apart; seeds 0..2 land one per
    // cluster so Lloyd must separate them perfectly
    def v(center: Double) = Array.tabulate(64)(i => (center + 0.01 * math.sin(i)).toFloat)
    val rows = (0 until 9).map { i =>
      (i.toLong, v(Seq(0.0, 10.0, -10.0)(i % 3)), i % 3)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val assign = Similarity.kmeansAssign(df, k = 3, iters = 3).collect()
    val byCluster = assign.groupBy(_.getAs[Long]("cluster_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id") % 3).toSet).toMap
    assert(byCluster.size === 3)
    assert(byCluster.values.forall(_.size === 1),
      s"each planted cluster maps to exactly one k-means cluster: $byCluster")
    // assignment dist really is the minimum over the trained codebook
    val code = Similarity.kmeansCodebook(df, k = 3, iters = 3)
    val vecs = rows.map(r => (r._1, r._2.map(_.toDouble))).toMap
    assign.foreach { r =>
      val x = vecs(r.getAs[Long]("vec_id"))
      val dists = code.map { case (cid, c) =>
        (cid, x.zip(c).foldLeft(0.0) { case (a, (xi, ci)) => a + (xi - ci) * (xi - ci) }) }
      assert(dists.minBy(d => (d._2, d._1))._1 === r.getAs[Long]("cluster_id"))
    }
  }

  test("kmeans iterations do not increase inertia on the corpus") {
    val emb = Tables.embeddings(spark, sf)
    def inertia(iters: Int): Double =
      Similarity.kmeansAssign(emb, k = 8, iters = iters)
        .agg(org.apache.spark.sql.functions.sum("sq_dist")).head.getDouble(0)
    val i1 = inertia(1)
    val i3 = inertia(3)
    assert(i3 <= i1 + 1e-6, s"Lloyd must not diverge: iter1=$i1 iter3=$i3")
  }

  test("kmeans-trained IVF: structural guarantees hold; recall reported") {
    val ivf = Similarity.knnIvfKmeans(Tables.embeddings(spark, sf)).cache()
    assert(ivf.filter(col("qid") === col("nid")).count() === 0)
    val counts = ivf.groupBy("qid").count()
    assert(counts.filter(col("count") > 5).count() === 0)
    val brute = Similarity.knnBrute(Tables.embeddings(spark, sf))
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ivf.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    info(f"kmeans-IVF recall vs brute: ${got.intersect(brute).size.toDouble / brute.size}%.2f")
    ivf.unpersist()
  }

  test("ivf-blocked embedding near-dup finds a planted in-cell twin") {
    // a planted near-identical pair must share a k-means cell (same
    // argmin) and surface at cos≈1 at the top of the pair list
    val base = Array.tabulate(64)(i => (math.sin(i + 1) * 0.5).toFloat)
    val twin = base.clone(); twin(0) = base(0) + 1e-4f
    val far = (0 until 6).map(j =>
      (10L + j, Array.tabulate(64)(i => (math.cos(i * (j + 2)) * 2.0).toFloat), j))
    val df = (Seq((0L, base, 0), (1L, twin, 0)) ++ far)
      .toDF("vec_id", "embedding", "label")
    val pairs = Similarity.embeddingNearDupIvf(df, topN = 5, k = 3, iters = 2).collect()
    val top = pairs.head
    assert((top.getAs[Long]("id_a"), top.getAs[Long]("id_b")) === (0L, 1L))
    assert(math.abs(top.getAs[Double]("cos_sim") - 1.0) < 1e-6)
  }

  test("covariance: full upper triangle, per-cell n, driver-replicated bit-for-bit") {
    val emb = Tables.embeddings(spark, sf)
    val cov = Similarity.covariance(emb).collect()
    val n = emb.count()
    assert(cov.length === 64 * 65 / 2)
    assert(cov.forall(r => r.getLong(0) <= r.getLong(1)))
    assert(cov.forall(_.getLong(2) === n))
    // diagonal = variance: nonnegative up to the nano-quantization step
    assert(cov.filter(r => r.getLong(0) == r.getLong(1))
      .forall(_.getDouble(5) >= -1e-6))
    // driver replication with the identical quantization recipe
    // (BigDecimal HALF_UP = Spark round = DuckDB round, ties away
    // from zero — math.round's floor(x+0.5) would drift on negatives)
    def nano(x: Double): Long =
      BigDecimal.valueOf(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val vs = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val d = 64
    val lin = new Array[Long](d)
    val ps = Array.ofDim[Long](d, d)
    vs.foreach { v =>
      var i = 0
      while (i < d) {
        lin(i) += nano(v(i) * 1e9)
        var j = i
        while (j < d) { ps(i)(j) += nano(v(i) * v(j) * 1e9); j += 1 }
        i += 1
      }
    }
    cov.foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val mi = lin(i).toDouble / 1e9 / n
      val mj = lin(j).toDouble / 1e9 / n
      val c = ps(i)(j).toDouble / 1e9 / n - mi * mj
      assert(r.getDouble(3) === mi && r.getDouble(4) === mj)
      assert(r.getDouble(5) === c, s"cov($i,$j)")
    }
  }

  test("pca: planted dominant axis recovered, unit component, Rayleigh eigenvalue") {
    // variance concentrated on axis 7 (spread ±6), a whisper on axis 2
    val df = (0 until 40).map { k =>
      val v = new Array[Float](64)
      v(7) = ((k % 5) - 2) * 3.0f
      v(2) = (k % 3) * 0.01f
      (k.toLong, v, 0)
    }.toDF("vec_id", "embedding", "label")
    val pc = Similarity.pcaComponent(df).collect().sortBy(_.getLong(0))
    assert(pc.length === 64)
    val comp = pc.map(_.getDouble(1))
    assert(math.abs(comp(7)) > 0.999, s"axis 7 should dominate, got ${comp(7)}")
    val norm2 = comp.map(x => x * x).sum
    assert(math.abs(norm2 - 1.0) < 1e-9)
    val lam = pc.head.getDouble(2)
    // planted variance on axis 7: values 3*(-2..2) uniform over 40 rows
    val axis = (0 until 40).map(k => (((k % 5) - 2) * 3.0))
    val mean = axis.sum / 40
    val planted = axis.map(x => (x - mean) * (x - mean)).sum / 40
    assert(math.abs(lam - planted) < 1e-3, s"eigenvalue $lam vs planted $planted")
  }

  test("covariance incremental: merged term state is BIT-identical to one-shot") {
    val emb = Tables.embeddings(spark, sf)
    // any split works — associativity is exact; use odd/even vec_id
    val oneShot = Similarity.covariance(emb).collect()
    val merged = Similarity.covarianceIncremental(
      emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1))
      .collect()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val a = oneShot.map(r => key(r) -> (r.getLong(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5))).toMap
    val b = merged.map(r => key(r) -> (r.getLong(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5))).toMap
    assert(a === b, "Long term sums are exactly associative")
    // and a second, unbalanced split settles identically too
    val merged2 = Similarity.covarianceIncremental(
      emb.filter(col("vec_id") < 10), emb.filter(col("vec_id") >= 10))
      .collect().map(r => key(r) -> (r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(a === merged2)
  }

  test("random projection: JL norm concentration on the corpus; deterministic digest") {
    val emb = Tables.embeddings(spark, sf)
    val rp = Similarity.randomProject(emb).collect()
    assert(rp.length === emb.count())
    // E[‖Rv‖²] = ‖v‖² per the JL lemma; per-vector variance is 2/k
    // but the corpus-mean ratio concentrates hard
    val orig = Similarity.normalize(emb).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val ratios = rp.filter(r => orig(r.getLong(0)) > 0).map { r =>
      val n = orig(r.getLong(0))
      r.getDouble(3) / (n * n)
    }
    val mean = ratios.sum / ratios.length
    assert(mean > 0.7 && mean < 1.3, s"corpus-mean norm ratio $mean")
    // oblivious = rerun is bit-identical (no RNG, no training state)
    val again = Similarity.randomProject(emb).collect()
    assert(rp.map(_.getString(2)).toSeq === again.map(_.getString(2)).toSeq)
    // matrix rows differ (distinct md5 streams) and are ±0.25 only
    val c0 = Similarity.rpCoefs(0)
    val c1 = Similarity.rpCoefs(1)
    assert(c0 !== c1)
    assert((c0 ++ c1).forall(x => x == 0.25 || x == -0.25))
  }

  test("pca top-2: deflation recovers both planted axes in spectral order") {
    // strong variance on axis 7, weaker independent variance on axis 2
    // (k%5 and k%7 patterns are uncorrelated over 0..69, so the true
    // eigenvectors are axis-aligned)
    val df = (0 until 70).map { k =>
      val v = new Array[Float](64)
      v(7) = ((k % 5) - 2) * 3.0f
      v(2) = ((k % 7) - 3) * 1.0f
      (k.toLong, v, 0)
    }.toDF("vec_id", "embedding", "label")
    val rows = Similarity.pcaComponents(df).collect()
    assert(rows.length === 128)
    val c1 = rows.filter(_.getLong(0) == 1L).sortBy(_.getLong(1))
    val c2 = rows.filter(_.getLong(0) == 2L).sortBy(_.getLong(1))
    assert(math.abs(c1(7).getDouble(2)) > 0.999, "pc1 = strong axis 7")
    // 3 rounds converge pc2 a touch slower (the deflated matrix keeps
    // an O(convergence-error) axis-7 residue): observed 0.9988
    assert(math.abs(c2(2).getDouble(2)) > 0.99, "pc2 = deflated axis 2")
    val (l1, l2) = (c1.head.getDouble(3), c2.head.getDouble(3))
    assert(l1 > l2 && l2 > 0, s"spectral order: $l1 > $l2 > 0")
    // each component unit-norm; near-orthogonal (exact orthogonality
    // only in the power-iteration limit — 3 rounds on an axis-aligned
    // spectrum converge far past this bound)
    def comp(c: Array[org.apache.spark.sql.Row]) = c.map(_.getDouble(2))
    assert(math.abs(comp(c1).map(x => x * x).sum - 1.0) < 1e-9)
    assert(math.abs(comp(c2).map(x => x * x).sum - 1.0) < 1e-9)
    val dot = comp(c1).zip(comp(c2)).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) < 0.05, s"components near-orthogonal, got $dot")
    // component 1 is the same chain embedding_pca publishes
    val pc1 = Similarity.pcaComponent(df).collect().sortBy(_.getLong(0))
    c1.zip(pc1).foreach { case (a, b) =>
      assert(a.getDouble(2) === b.getDouble(1) && a.getDouble(3) === b.getDouble(2))
    }
  }

  test("pca project: scores replicate the literal fold; score variance = eigenvalue") {
    val emb = Tables.embeddings(spark, sf)
    val proj = Similarity.pcaProject(emb).collect()
    assert(proj.length === emb.count())
    val pcRows = Similarity.pcaComponent(emb).collect().sortBy(_.getLong(0))
    val pc = pcRows.map(_.getDouble(1))
    val lam = pcRows.head.getDouble(2)
    val covRows = Similarity.covariance(emb)
      .filter(col("dim_i") === col("dim_j")).collect()
    val means = new Array[Double](64)
    covRows.foreach(r => means(r.getLong(0).toInt) = r.getDouble(3))
    val byId = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    proj.foreach { r =>
      val v = byId(r.getLong(0))
      var acc = 0.0; var i = 0
      while (i < v.length) { acc += (v(i) - means(i)) * pc(i); i += 1 }
      assert(r.getDouble(2) === acc, s"score ${r.getLong(0)}")
    }
    // var(scores) = pcᵀ C pc = the published Rayleigh eigenvalue (up to
    // the cov nano-quantization the driver-side raw-double var skips)
    val scores = proj.map(_.getDouble(2))
    val sMean = scores.sum / scores.length
    val sVar = scores.map(x => (x - sMean) * (x - sMean)).sum / scores.length
    assert(math.abs(sVar - lam) / math.max(lam, 1e-12) < 1e-3,
      s"score variance $sVar vs eigenvalue $lam")
  }

  test("q1 aggregates stay in whole-stage codegen") {
    val df = Analytics.pricingSummary(Tables.lineitem(spark, sf))
    df.collect()   // run this exact queryExecution so AQE finalizes it
    val plan = df.queryExecution.executedPlan.toString
    // WholeStageCodegenExec renders as "*(n) " stage markers
    assert(plan.contains("*("), s"q1 should be codegen'd:\n$plan")
  }

  test("ann_recall: per-probe counts replicate the set arithmetic exactly") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.knnBrute(emb).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lsh = Similarity.knnLsh(emb).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bruteBy = brute.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lshBy = lsh.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val r = Similarity.annRecall(emb).collect()
    assert(r.map(_.getLong(0)).toSet === bruteBy.keySet)
    r.foreach { row =>
      val (qid, nBrute, nLsh, nHit, recall) = (row.getLong(0), row.getLong(1),
        row.getLong(2), row.getLong(3), row.getDouble(4))
      val l = lshBy.getOrElse(qid, Set.empty)
      assert(nBrute === bruteBy(qid).size.toLong)
      assert(nLsh === l.size.toLong)
      assert(nHit === bruteBy(qid).intersect(l).size.toLong)
      assert(recall === nHit.toDouble / 5.0)
    }
  }

  test("ann_recall_ivf: counts replicate the set arithmetic against knnIvf exactly") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.knnBrute(emb).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivf = Similarity.knnIvf(emb).select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val r = Similarity.annRecallIvf(emb).collect()
    assert(r.map(_.getLong(0)).toSet === brute.keySet)
    r.foreach { row =>
      val (qid, nHit) = (row.getLong(0), row.getLong(3))
      val cand = ivf.getOrElse(qid, Set.empty)
      assert(nHit === brute(qid).intersect(cand).size.toLong)
      assert(row.getLong(2) === cand.size.toLong)
      assert(row.getDouble(4) === nHit.toDouble / 5.0)
    }
  }

  test("ann_recall: a single shared bucket gives perfect recall") {
    // every vector identical direction => identical signature => the
    // LSH candidates are exactly the brute-force candidates
    val base = Array.tabulate(64)(i => (math.sin(i + 1) * 0.5).toFloat)
    val df = (0L until 6L).map(i =>
      (i, base.map(x => x * (1.0f + 0.01f * i)), 0)).toDF("vec_id", "embedding", "label")
    val r = Similarity.annRecall(df, nProbes = 3, k = 3).collect()
    assert(r.length === 3)
    r.foreach(row => assert(row.getDouble(4) === 1.0,
      s"probe ${row.getLong(0)} recall ${row.getDouble(4)} != 1"))
  }

  // ---- SemDeDup (Abbas et al. 2023) -----------------------------------

  test("semdedup: planted near-identical group collapses to one survivor, the least-prototypical member") {
    // 8 mutually-orthogonal/antipodal seed directions (vec_ids 0..7
    // cover the first-k seeding) plus two tiny perturbations of seed
    // 0's direction — {0, 8, 9} are pairwise cos ≈ 1, share seed 0's
    // cell, and form ONE duplicate component at τ=0.9; everything
    // else is a singleton (mutual cos ∈ {0, −1})
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val df = Seq(
      (0L, v(1.0, 0, 0, 0), 0), (1L, v(0, 1.0, 0, 0), 0),
      (2L, v(0, 0, 1.0, 0), 1), (3L, v(0, 0, 0, 1.0), 1),
      (4L, v(-1.0, 0, 0, 0), 2), (5L, v(0, -1.0, 0, 0), 2),
      (6L, v(0, 0, -1.0, 0), 3), (7L, v(0, 0, 0, -1.0), 3),
      (8L, v(0.99, 0.02, 0, 0), 0), (9L, v(0.97, 0.05, 0, 0), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semdedup(df, tau = 0.9).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6))))
      .toMap
    assert(out.size === 10, "every vector appears exactly once")
    // {0, 8, 9} = one 3-member component labeled by its min id
    assert(out(0L)._2 === 0L && out(8L)._2 === 0L && out(9L)._2 === 0L)
    assert(Seq(0L, 8L, 9L).forall(out(_)._3 === 3L))
    (1L to 7L).foreach(id => assert(out(id)._3 === 1L && out(id)._5,
      s"vec $id must be a kept singleton"))
    // survivor rule: exactly one kept, and it is the member with the
    // LOWEST cosine to the shared centroid (tie: min id)
    val group = Seq(0L, 8L, 9L).map(id => id -> out(id))
    assert(group.count(_._2._5) === 1, "exactly one of the group survives")
    val expected = group.minBy { case (id, g) => (g._4, id) }._1
    assert(out(expected)._5,
      s"survivor must minimize (cos_centroid, vec_id); got ${group.map(g => (g._1, g._2._4, g._2._5))}")
  }

  test("semdedup on the corpus: partition invariants hold; summary rolls the prune table") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.semdedup(emb)
    val rows = out.collect()
    assert(rows.length === emb.count().toInt)
    // exactly one survivor per component, component sizes consistent
    val byComp = rows.groupBy(_.getLong(3))
    byComp.foreach { case (comp, ms) =>
      assert(ms.count(_.getBoolean(6)) === 1, s"component $comp needs one survivor")
      assert(ms.forall(_.getLong(4) === ms.length.toLong))
      // all members share a cell (pairs are in-cell by construction)
      assert(ms.map(_.getLong(2)).distinct.length === 1)
      // the survivor is the (cos_centroid, vec_id) minimum
      val keep = ms.filter(_.getBoolean(6)).head
      val best = ms.minBy(r => (r.getDouble(5), r.getLong(0)))
      assert(keep.getLong(0) === best.getLong(0))
    }
    val dropped = rows.count(!_.getBoolean(6))
    info(s"semdedup at τ=0.4 on the fixture: $dropped of ${rows.length} dropped")
    // summary = the prune table re-aggregated per cell
    val summary = Similarity.semdedupSummary(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val byCell = rows.groupBy(_.getLong(2)).map { case (cell, ms) =>
      cell -> ((ms.length.toLong, ms.count(_.getBoolean(6)).toLong,
        ms.count(!_.getBoolean(6)).toLong))
    }
    assert(summary === byCell)
  }

  test("semdedup persistence loop: train → write → read → semdedupWith bit-equals self-training") {
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_semdedup_art")
      .toString + "/codebook"
    Similarity.kmeansCentroids(emb).write.parquet(dir)
    // shuffle storage order on read-back: the reader must re-sort
    val art = Similarity.kmeansCodebookFrom(
      spark.read.parquet(dir).orderBy(col("centroid_val")))
    val fromArtifact = Similarity.semdedupWith(emb, art)
    val selfTrained = Similarity.semdedup(emb)
    assert(fromArtifact.exceptAll(selfTrained).count() === 0)
    assert(selfTrained.exceptAll(fromArtifact).count() === 0)
  }

  test("semdedup admission: batch near-dups of standing kept exemplars rejected, in-batch twins collapse") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // even = standing: {0, 8} near-identical along +x (one kept),
    // 2/4/6 orthogonal singletons. odd = batch: 9 ≈ +x (must be
    // rejected against the standing kept exemplar), {1, 11, 13} ≈ +y
    // (fresh vs the corpus, one in-batch component of 3), 3/5/7
    // orthogonal (admitted singletons).
    val df = Seq(
      (0L, v(1.0, 0, 0, 0), 0), (1L, v(0, 1.0, 0, 0), 0),
      (2L, v(0, 0, 1.0, 0), 1), (3L, v(0, 0, 0, 1.0), 1),
      (4L, v(-1.0, 0, 0, 0), 2), (5L, v(0, -1.0, 0, 0), 2),
      (6L, v(0, 0, -1.0, 0), 3), (7L, v(0, 0, 0, -1.0), 3),
      (8L, v(0.99, 0.02, 0, 0), 0), (9L, v(0.97, 0.05, 0, 0), 0),
      (11L, v(0, 0.99, 0.02, 0), 0), (13L, v(0, 0.97, 0.05, 0), 0))
      .toDF("vec_id", "embedding", "label")
    val code = Similarity.kmeansCodebook(df, 8, 3)
    val standing = df.filter(col("vec_id") % 2 === 0)
    val batch = df.filter(col("vec_id") % 2 =!= 0)
    val out = Similarity.semdedupAdmit(standing, batch, code, tau = 0.9)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(5)))).toMap
    // 9 rejected against the standing +x exemplar; {1,11,13} collapse
    // to one survivor absorbing 2; 3/5/7 admitted untouched
    assert(!out.contains(9L), "batch near-dup of a standing exemplar must be rejected")
    val ySurvivors = Seq(1L, 11L, 13L).filter(out.contains)
    assert(ySurvivors.size === 1, s"one survivor from the +y component, got $out")
    assert(out(ySurvivors.head) === ((3L, 2L)))
    Seq(3L, 5L, 7L).foreach(id => assert(out(id) === ((1L, 0L)),
      s"vec $id must be an admitted singleton"))
    assert(out.size === 4)
    // the union invariant: standing kept ∪ admitted is pairwise
    // cos < τ within every cell — admission preserves exactly the
    // property semdedup established on the standing corpus
    val keptIdx = Similarity.semdedupIndex(standing, code, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val admitted = Similarity.kmeansAssignWith(batch, code).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val embMap = df.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val pool = keptIdx.map(t => (t._1, t._2, t._3)) ++
      out.keys.map(id => (id, admitted(id), embMap(id)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for {
      (ia, ca, va) <- pool; (ib, cb, vb) <- pool
      if ia < ib && ca == cb
    } assert(cos(va, vb) < 0.9, s"union must stay pairwise below τ: $ia vs $ib")
    // the index overload is the same operator
    val viaIndex = Similarity.semdedupAdmitWithIndex(
      Similarity.semdedupIndex(standing, code, tau = 0.9), batch, code, tau = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(5)))).toMap
    assert(viaIndex === out)
  }

  test("semdedup cell cap: an over-cap cell generates no pairs — its members pass through kept") {
    // the planted duplicate-group fixture: {0, 8, 9} share seed 0's
    // cell (population 3); with cellCap = 2 that cell is skipped for
    // pair generation, so ALL vectors come out kept singletons —
    // BandBucketCap's documented-drop semantics
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val df = Seq(
      (0L, v(1.0, 0, 0, 0), 0), (1L, v(0, 1.0, 0, 0), 0),
      (2L, v(0, 0, 1.0, 0), 1), (3L, v(0, 0, 0, 1.0), 1),
      (4L, v(-1.0, 0, 0, 0), 2), (5L, v(0, -1.0, 0, 0), 2),
      (6L, v(0, 0, -1.0, 0), 3), (7L, v(0, 0, 0, -1.0), 3),
      (8L, v(0.99, 0.02, 0, 0), 0), (9L, v(0.97, 0.05, 0, 0), 0))
      .toDF("vec_id", "embedding", "label")
    val code = Similarity.kmeansCodebook(df, 8, 3)
    val capped = Similarity.semdedupWith(df, code, tau = 0.9, cellCap = 2)
      .collect()
    assert(capped.length === 10)
    capped.foreach { r =>
      assert(r.getLong(4) === 1L && r.getBoolean(6),
        s"vec ${r.getLong(0)} must be a kept singleton under the cap")
    }
    // the default cap leaves the fixture untouched (cap >> any cell)
    val uncapped = Similarity.semdedupWith(df, code, tau = 0.9).collect()
    assert(uncapped.count(!_.getBoolean(6)) === 2,
      "default-cap run still collapses the planted 3-member group")
  }

  test("kmeansCodebookFrom fails fast on a malformed persisted artifact") {
    // duplicate (cluster_id, dim_idx) row
    val dup = Seq((0L, 0L, 1.0), (0L, 0L, 2.0), (0L, 1L, 3.0))
      .toDF("cluster_id", "dim_idx", "centroid_val")
    intercept[IllegalArgumentException] { Similarity.kmeansCodebookFrom(dup) }
    // missing dimension (gap in dim_idx)
    val gap = Seq((0L, 0L, 1.0), (0L, 2L, 3.0))
      .toDF("cluster_id", "dim_idx", "centroid_val")
    intercept[IllegalArgumentException] { Similarity.kmeansCodebookFrom(gap) }
    // ragged clusters (d differs)
    val ragged = Seq((0L, 0L, 1.0), (0L, 1L, 2.0), (1L, 0L, 3.0))
      .toDF("cluster_id", "dim_idx", "centroid_val")
    intercept[IllegalArgumentException] { Similarity.kmeansCodebookFrom(ragged) }
    // empty artifact
    val empty = spark.emptyDataFrame
      .withColumn("cluster_id", lit(0L)).withColumn("dim_idx", lit(0L))
      .withColumn("centroid_val", lit(0.0)).filter(lit(false))
    intercept[IllegalArgumentException] { Similarity.kmeansCodebookFrom(empty) }
    // a well-formed artifact still loads
    val ok = Seq((0L, 0L, 1.0), (0L, 1L, 2.0), (1L, 1L, 4.0), (1L, 0L, 3.0))
      .toDF("cluster_id", "dim_idx", "centroid_val")
    assert(Similarity.kmeansCodebookFrom(ok) ===
      Seq((0L, Seq(1.0, 2.0)), (1L, Seq(3.0, 4.0))))
  }
}
