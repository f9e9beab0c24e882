package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Partitioning
import graft.sources.{Loader, Tables}
import graft.streaming.EventStream

/** Scale-mechanics specs: salting equivalence, partition pruning,
  * co-partitioned joins, CSV round-trip, streaming dedup.
  */
class ScaleSpec extends AnyFunSuite {
  import TestSpark._

  test("salted aggregation equals direct groupBy exactly") {
    val ev = Tables.events(spark, sf)
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val direct = toMap(ev.groupBy("event_type")
      .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double").as("sum_value"), count(lit(1)).as("n_rows"))
      .collect())
    val salted = toMap(Partitioning.saltedSum(ev, Seq("event_type"), "value")
      .select("event_type", "sum_value", "n_rows").collect())
    assert(salted === direct)
  }

  test("bucketed value tiers agree with exact ntile; no single-partition exchange") {
    val orders = Tables.orders(spark, sf)
    val exact = graft.operators.Analytics.customerValueTiers(orders)
      .select("o_custkey", "revenue", "value_tier").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val bucketedDf = graft.operators.Analytics.customerValueTiersBucketed(orders)
    val bucketed = bucketedDf.select("o_custkey", "revenue", "value_tier").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(bucketed.keySet === exact.keySet)
    // agreement everywhere except boundary values (ntile splits a tie
    // group positionally; value-bucketing keeps it together) — allow
    // the four boundary-straddling rows at most
    val mismatches = exact.collect {
      case (ck, (rev, t)) if bucketed(ck)._2 != t => (ck, rev, t, bucketed(ck)._2)
    }
    assert(mismatches.size <= 4, s"too many tier mismatches: $mismatches")
    // scale shape: no global window ⇒ no single-partition exchange
    bucketedDf.collect()
    val plan = bucketedDf.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"global bottleneck:\n$plan")
  }

  test("approx percentiles track exact percentiles within sketch tolerance") {
    val orders = Tables.orders(spark, sf)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val exact = toMap(graft.operators.Analytics.orderValuePercentiles(orders))
    val approx = toMap(graft.operators.Analytics.orderValuePercentilesApprox(orders))
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, (e50, e90, e99)) =>
      val (a50, a90, a99) = approx(k)
      // rank error ≤ 1/accuracy ⇒ values within 2% of range at test scale
      Seq((e50, a50), (e90, a90), (e99, a99)).foreach { case (e, a) =>
        assert(math.abs(e - a) / e < 0.02, s"$k: exact $e vs approx $a")
      }
    }
  }

  test("fact_inventory_wh plan: broadcast dims, single hash shuffle from the groupBy") {
    val df = SparkEntry.queries("fact_inventory_wh")(spark, sf)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // supplier, dim_warehouse, part resolve via broadcast (plus the
    // nation-region join inside dimWarehouse itself) — lineitem streams once
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 3, s"supplier/warehouse/part must all broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no join may degrade to a shuffle join:\n$plan")
    // exactly one hash shuffle — the (partkey, warehouse) groupBy; the
    // only other exchange is the deterministic output sort's range split
    // (formatted mode puts the partitioning in the Arguments footer)
    val hashEx = "Arguments: hashpartitioning".r.findAllIn(plan).size
    assert(hashEx === 1, s"exactly one shuffle (the groupBy) expected:\n$plan")
    assert("Arguments: rangepartitioning".r.findAllIn(plan).size === 1,
      s"one range split for the output sort expected:\n$plan")
    // map-side partial aggregation precedes the shuffle
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"partial + final aggregate expected:\n$plan")
  }

  test("partitioned layout prunes partitions at the scan") {
    val dir = Files.createTempDirectory("graft_part").toString + "/orders_by_status"
    Partitioning.writePartitioned(Tables.orders(spark, sf), dir, Seq("o_orderstatus"))
    val df = spark.read.parquet(dir).filter(col("o_orderstatus") === "F")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"partition filter missing:\n$plan")
    // only the F partition directory is read
    assert(df.select("o_orderstatus").distinct().collect().map(_.getString(0)).toSet === Set("F"))
  }

  test("z-ordered layout: per-file bounding boxes far tighter than hash layout on BOTH dims") {
    val li = Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey")
    val base = Files.createTempDirectory("graft_zorder").toString
    Partitioning.writeZOrdered(li, s"$base/zordered", "l_partkey", "l_suppkey", 8)
    li.repartition(8).write.parquet(s"$base/hashed")
    // per-file normalized bounding-box area — what footer min/max
    // pruning sees. Hash layout ≈ every file spans the full plane.
    def meanArea(path: String): Double = {
      val stats = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("l_partkey").as("nx"), max("l_partkey").as("xx"),
          min("l_suppkey").as("ny"), max("l_suppkey").as("xy"))
        .collect()
      // col 0 is the file name; 1..4 are min_x, max_x, min_y, max_y
      val (gx, gy) = (stats.map(_.getLong(2)).max.toDouble,
        stats.map(_.getLong(4)).max.toDouble)
      stats.map(r => ((r.getLong(2) - r.getLong(1)) / gx) *
        ((r.getLong(4) - r.getLong(3)) / gy)).sum / stats.length
    }
    val (zArea, hArea) = (meanArea(s"$base/zordered"), meanArea(s"$base/hashed"))
    assert(hArea > 0.9, s"hash layout should span the plane, got $hArea")
    assert(zArea < hArea / 2, s"z-order not tighter: z=$zArea hash=$hArea")
    // the morton key clusters, it must not lose or duplicate rows
    assert(spark.read.parquet(s"$base/zordered").count() === li.count())
  }

  test("row-count drift report compares snapshots correctly") {
    import spark.implicits._
    val prev = Seq("t1" -> Seq(1, 2, 3).toDF("v"), "t2" -> Seq(1).toDF("v"))
    val cur = Seq("t1" -> Seq(1, 2, 3, 4).toDF("v"),
      "t2" -> Seq(1).toDF("v"), "t3" -> Seq(9, 9).toDF("v"))
    val r = graft.operators.Validation.rowCountDrift(prev, cur).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r("t1") === ((3L, 4L, 1L)))
    assert(r("t2") === ((1L, 1L, 0L)))
    assert(r("t3") === ((0L, 2L, 2L)), "brand-new table has prev=0")
  }

  test("bucketed tables join with zero exchanges") {
    // drop any leftovers (catalog entry AND managed location) so the
    // test is rerunnable after an interrupted run
    Seq("li_bkt", "o_bkt").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity", "l_extendedprice")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    Partitioning.writeBucketed(li, "li_bkt", "l_orderkey", 4, Seq("l_orderkey"))
    Partitioning.writeBucketed(o, "o_bkt", "o_orderkey", 4, Seq("o_orderkey"))
    // at test scale the planner would broadcast the small side and never
    // exercise bucketing — disable broadcast to get the big-big shape
    // this layout exists for
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val joined = spark.table("li_bkt")
        .join(spark.table("o_bkt"), col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan must be bucketed:\n$plan")
      // and it is still the same join result
      assert(joined.count() ===
        li.join(o, col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      spark.conf.set(thresholdKey, prev)
      spark.sql("DROP TABLE IF EXISTS li_bkt"); spark.sql("DROP TABLE IF EXISTS o_bkt")
    }
  }

  test("co-partitioned join of pre-shuffled sides produces correct counts") {
    val (li, o) = Partitioning.coPartition(
      Tables.lineitem(spark, sf), Tables.orders(spark, sf), "l_orderkey", "o_orderkey", 8)
    val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
    assert(joined.count() === Tables.lineitem(spark, sf).count())
  }

  test("jsonl round-trip preserves the document corpus exactly") {
    val docs = Tables.documents(spark, sf)
    val dir = Files.createTempDirectory("graft_jsonl").toString + "/docs_jsonl"
    Tables.writeJsonl(docs, dir)
    val back = Tables.readJsonl(spark, dir, docs.schema)
    assert(back.count() === docs.count())
    assert(back.exceptAll(docs).count() === 0)
    assert(docs.exceptAll(back).count() === 0)
  }

  test("orc round-trip preserves orders exactly; filters push into the scan") {
    val dir = Files.createTempDirectory("graft_orc").toString + "/orders_orc"
    val src = Tables.orders(spark, sf)
    Tables.writeOrc(src, dir)
    val back = Tables.readOrc(spark, dir)
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
    // predicate pushdown reaches the ORC scan like parquet
    val plan = back.filter(col("o_orderkey") === 42L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderkey"),
      s"ORC scan must carry PushedFilters:\n$plan")
  }

  test("csv round-trip with explicit schema and delimiter") {
    val dir = Files.createTempDirectory("graft_csv").toString + "/nation_csv"
    val src = Tables.nation(spark, sf)
    Tables.writeCsv(src, dir, delimiter = "|")
    val back = Tables.readCsv(spark, dir, src.schema, delimiter = "|")
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
  }

  test("stream-stream interval join equals the batch interval join") {
    val q = EventStream.purchaseClickJoin(spark, sf)
      .writeStream.outputMode("append").format("memory").queryName("ssj_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssj_out").select("p_event", "c_event")
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pt"), col("event_id").as("p_event"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("ct"), col("event_id").as("c_event"))
    val batch = p.join(c, expr("pu = cu AND ct >= pt - INTERVAL 1 HOUR AND ct <= pt"))
      .select("p_event", "c_event")
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(batch.count() > 0)
  }

  test("streaming dedup keeps one row per key (vs batch distinct)") {
    val q = EventStream.dedupStream(spark, sf)
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("dedup_out")
    val batchKeys = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct().count()
    assert(streamed.count() === batchKeys)
  }

  test("streaming incremental admission matches batch dedup_incremental fingerprints") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val q = EventStream.incrementalAdmissionStream(spark, sf, corpus,
        col("doc_id") % 3 === 0)
      .writeStream.outputMode("append").format("memory")
      .queryName("incr_admit_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("incr_admit_out").select("fp_md5")
    val batch = graft.operators.Dedup
      .incremental(corpus, docs.filter(col("doc_id") % 3 === 0))
      .select("fp_md5")
    // admitted fingerprint sets agree exactly (which arrival carries a
    // fingerprint is arrival-order in the stream, min-id in batch)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(batch.count() > 0)
  }

  test("streaming near-dup admission matches batch dedup_incremental_minhash") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val q = EventStream.nearDupAdmissionStream(spark, sf, corpus,
        col("doc_id") % 3 === 0)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_admit_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("neardup_admit_out")
    val batch = graft.operators.Dedup
      .incrementalNearDup(corpus, docs.filter(col("doc_id") % 3 === 0))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(batch.count() > 0)
  }

  test("streaming complete admission matches batch dedup_admit survivors") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val sink = Files.createTempDirectory("graft_admitstream")
      .toString + "/admitted"
    val q = EventStream.admissionPipelineStream(spark, sf, corpus,
      col("doc_id") % 3 === 0, sink)
    q.processAllAvailable(); q.stop()
    val streamed = EventStream.readParts(spark, sink)
    val batch = graft.operators.Dedup
      .admitNearDup(corpus, docs.filter(col("doc_id") % 3 === 0))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(batch.count() > 0)
  }

  test("streaming admission carries the fresh-band index across REAL micro-batches") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val sink = Files.createTempDirectory("graft_admitstream2")
      .toString + "/admitted"
    val q = EventStream.admissionPipelineStream(spark, sf, corpus,
      col("doc_id") % 3 === 0, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val streamedIds = EventStream.readParts(spark, sink).select("doc_id")
    val batchIds = graft.operators.Dedup
      .admitNearDup(corpus, docs.filter(col("doc_id") % 3 === 0))
      .select("doc_id")
    // guaranteed direction: every batch-canonical survivor is admitted
    // (component minima collide with no earlier fresh doc)
    assert(batchIds.exceptAll(streamedIds).count() === 0)
    // observed on this (deterministic, never-regenerated) corpus the
    // sets coincide; in general the stream may admit MORE when a
    // component's connecting doc arrives after two non-colliding
    // members — see the operator contract
    assert(streamedIds.exceptAll(batchIds).count() === 0)
    // a stopped stream's bucketed-state catalog entries (the last two
    // versions survive the per-trigger prune for replay) are the
    // caller's to drop — and dropping must actually clear them (r9)
    EventStream.dropStateCatalog(spark, sink)
    val prefix = "graft_state_" +
      EventStream.stateDirDigest(sink + ".state") + "_upto_"
    assert(!spark.catalog.listTables().collect()
        .exists(_.name.startsWith(prefix)),
      "dropStateCatalog left this stream's entries behind")
  }

  test("streaming quality gate: single trigger equals the one-shot gate") {
    val sink = Files.createTempDirectory("graft_gatestream")
      .toString + "/gated"
    val q = EventStream.qualityGateStream(spark, sf, sink)
    q.processAllAvailable(); q.stop()
    val streamed = EventStream.readParts(spark, sink)
    val batch = graft.operators.TextOps.qualityGate(Tables.documents(spark, sf))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(batch.count() > 0)
  }

  test("streaming quality gate: histogram carried across REAL triggers; reconcile settles to one-shot") {
    val sink = Files.createTempDirectory("graft_gatestream2")
      .toString + "/gated"
    val q = EventStream.qualityGateStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val oneShot = graft.operators.TextOps.qualityGate(Tables.documents(spark, sf))
    // online decisions of the FIRST trigger used a younger histogram —
    // report the drift the lambda split exists for (not asserted: its
    // size is a property of the fixture)
    val online = EventStream.readParts(spark, sink)
    val drift = online.select("doc_id", "kept")
      .exceptAll(oneShot.select("doc_id", "kept")).count()
    info(s"online-vs-settled gate drift: $drift docs")
    // the settled answer must be EXACTLY the one-shot gate
    val settled = EventStream.reconcileQualityGate(spark, sink)
    assert(settled.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(settled).count() === 0)
  }

  test("streaming novelty: online scores FINAL under monotone arrival; reconcile bit-identical") {
    val sink = Files.createTempDirectory("graft_novstream").toString + "/novelty"
    val q = EventStream.noveltyStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val online = EventStream.readParts(spark, sink)
    val oneShot = graft.operators.TextOps.ngramNovelty(Tables.documents(spark, sf))
    // the novelty twin's distinguishing property: per-gram-min state is
    // monotone, so unlike the gate/budget twins there is NO online
    // drift when ids arrive in order — trigger-1 scores already equal
    // the one-shot attribution (a later batch cannot lower any min)
    assert(online.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(online).count() === 0)
    // and the retro pass (compact pairs + final index, no text) agrees
    val settled = EventStream.reconcileNovelty(spark, sink)
    assert(settled.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(settled).count() === 0)
  }

  test("streaming repeated spans: triggers publish the admission view; reconcile settles to one-shot") {
    val sink = Files.createTempDirectory("graft_spanstream").toString + "/spans"
    val q = EventStream.repeatedSpansStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val docs = Tables.documents(spark, sf)
    val first = docs.filter(col("doc_id") < 250)
    val second = docs.filter(col("doc_id") >= 250)
    // trigger 1 saw an empty standing corpus: its view IS the one-shot
    // over the first half; trigger 2 is the incremental-admission view
    // (counts span everything arrived, spans only for batch docs)
    val b0 = spark.read.parquet(s"$sink/${batches(0)}")
    val t1 = graft.operators.TextOps.repeatedSpans(first)
    assert(b0.exceptAll(t1).count() === 0 && t1.exceptAll(b0).count() === 0)
    val b1 = spark.read.parquet(s"$sink/${batches(1)}")
    val t2 = graft.operators.TextOps.repeatedSpansIncremental(first, second)
    assert(b1.exceptAll(t2).count() === 0 && t2.exceptAll(b1).count() === 0)
    // the lambda-split tail: duplicates that arrived AFTER a doc was
    // published cannot retro-flag it online — report the drift, then
    // assert the reconcile pass (compact positions + final counts,
    // no text) settles EXACTLY to the one-shot
    val oneShot = graft.operators.TextOps.repeatedSpans(docs)
    val online = b0.unionByName(b1)
    info(s"online-vs-settled span drift: " +
      s"${oneShot.exceptAll(online).count()} late-duplicate span rows")
    val settled = EventStream.reconcileRepeatedSpans(spark, sink)
    assert(settled.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(settled).count() === 0)
  }

  test("streaming repeated spans at NON-DEFAULT knobs stays consistent with the batch family") {
    // r15 ADVICE: the stream used to hardcode n=8/minSpan=8 while the
    // batch surface took them as parameters — the sunk positional
    // streams are gram-width-specific, so that mismatch is
    // undetectable after the fact. Explicit-knob run must reconcile
    // to the batch one-shot AT THOSE KNOBS.
    val sink = Files.createTempDirectory("graft_spanstream_knobs").toString + "/spans"
    val q = EventStream.repeatedSpansStream(spark, sf, sink,
      splitAt = Some(250L), n = 4, minSpan = 12)
    q.processAllAvailable(); q.stop()
    val docs = Tables.documents(spark, sf)
    val oneShot = graft.operators.TextOps.repeatedSpans(docs, n = 4, minSpan = 12)
    val settled = EventStream.reconcileRepeatedSpans(spark, sink, n = 4, minSpan = 12)
    assert(settled.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(settled).count() === 0)
    // and the knobbed view differs from the default-knob one-shot —
    // proves the knobs actually reached the stream (n=4 finds spans
    // the 8-gram stream cannot)
    val defaultShot = graft.operators.TextOps.repeatedSpans(docs)
    assert(settled.exceptAll(defaultShot).count() > 0)
  }

  test("stationary span-count merge is bit-equal to recounting from scratch") {
    val docs = Tables.documents(spark, sf)
    val pa = graft.operators.TextOps
      .spanGramPositions(docs.filter(col("doc_id") < 250))
    val pb = graft.operators.TextOps
      .spanGramPositions(docs.filter(col("doc_id") >= 250))
    val merged = graft.operators.TextOps.mergeSpanGramCountsStationary(
      graft.operators.TextOps.spanGramCounts(pa),
      graft.operators.TextOps.spanGramCounts(pb))
    val oneShot = graft.operators.TextOps.spanGramCounts(
      graft.operators.TextOps.spanGramPositions(docs))
    assert(merged.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(merged).count() === 0)
  }

  test("stationary gram-index merge is frame-equal to the union-form merge") {
    val docs = Tables.documents(spark, sf)
    val a = graft.operators.TextOps.gramFirstIndex(docs.filter(col("doc_id") < 250))
    val bPairs = graft.operators.TextOps.gramPairs(docs.filter(col("doc_id") >= 250))
    val b = bPairs.groupBy("g8").agg(min(col("doc_id")).as("first_doc"))
    val unionForm = graft.operators.TextOps.mergeGramFirstIndex(a, b)
    val joinForm = graft.operators.TextOps.mergeGramFirstIndexStationary(a, b)
    assert(joinForm.exceptAll(unionForm).count() === 0)
    assert(unionForm.exceptAll(joinForm).count() === 0)
  }

  test("bucketed novelty state: merge and score plans keep the state side exchange-free") {
    val sink = Files.createTempDirectory("graft_novbkt").toString + "/novelty"
    val q = EventStream.noveltyStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val stateDir = sink + ".state"
    val latest = EventStream.parts(spark, stateDir, "upto").last._2
    val state = EventStream.readStateVersion(spark, stateDir, latest)
    // the next trigger's merge: full-outer join of the bucketed state
    // against a fresh batch aggregate — with broadcast off (full-outer
    // can't broadcast anyway) the ONLY Exchange allowed is the batch
    // side's; the state scan must read its buckets in place
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.enabled"
    val (prev, prevAqe) = (spark.conf.get(thresholdKey), spark.conf.get(aqeKey))
    try {
      spark.conf.set(thresholdKey, "-1")
      spark.conf.set(aqeKey, "false") // plain tree for structural walk
      val batchIdx = graft.operators.TextOps
        .gramPairs(Tables.documents(spark, sf).filter(col("doc_id") < 100))
        .groupBy("g8").agg(min(col("doc_id")).as("first_doc"))
      val merged = graft.operators.TextOps
        .mergeGramFirstIndexStationary(state, batchIdx)
      merged.collect()
      val plan = merged.queryExecution.executedPlan
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val bucketedScans = plan.collect {
        case f: FileSourceScanExec if f.bucketedScan => f }
      assert(bucketedScans.nonEmpty, s"state scan must be bucketed:\n$plan")
      // the state side must stay stationary: no Exchange anywhere above
      // the bucketed scan — every shuffle in the plan is batch-branch
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty, "sanity: the batch aggregate does shuffle")
      assert(shuffles.forall(_.collect {
          case f: FileSourceScanExec if f.bucketedScan => f }.isEmpty),
        s"bucketed state scan must not sit under an Exchange:\n$plan")
    } finally {
      spark.conf.set(thresholdKey, prev); spark.conf.set(aqeKey, prevAqe)
      EventStream.dropStateCatalog(spark, sink)
    }
  }

  test("bucketed admission state: carried-index distinct plans with zero Exchange") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val sink = Files.createTempDirectory("graft_admitbkt").toString + "/admitted"
    val q = EventStream.admissionPipelineStream(spark, sf, corpus,
      col("doc_id") % 3 === 0, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val stateDir = sink + ".state"
    val latest = EventStream.parts(spark, stateDir, "upto").last._2
    val state = EventStream.readStateVersion(spark, stateDir, latest)
    // the per-trigger carried index AND the retro reconcile both start
    // from an aggregation clustered on (…, band_key); the band_key
    // buckets satisfy that distribution, so the state never reshuffles
    val idx = state.select("band_idx", "band_key").distinct()
    idx.collect()
    val plan = idx.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), s"state scan must be bucketed:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed band-graph distinct must not shuffle:\n$plan")
    EventStream.dropStateCatalog(spark, sink)
  }

  test("streaming covariance: every trigger's view is BIT-identical to its one-shot prefix") {
    val sink = Files.createTempDirectory("graft_covstream").toString + "/cov"
    val q = EventStream.covarianceStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val emb = Tables.embeddings(spark, sf)
    // exact associativity = the STRONGEST twin contract: the trigger-1
    // snapshot equals the one-shot over the prefix, the final snapshot
    // equals the one-shot over everything — bit-for-bit, no reconcile
    val mid = spark.read.parquet(s"$sink/${batches.head}")
    val midShot = graft.operators.Similarity
      .covariance(emb.filter(col("vec_id") < 250))
    assert(mid.exceptAll(midShot).count() === 0)
    assert(midShot.exceptAll(mid).count() === 0)
    val fin = spark.read.parquet(s"$sink/${batches.last}")
    val oneShot = graft.operators.Similarity.covariance(emb)
    assert(fin.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(fin).count() === 0)
    assert(fin.count() === 64L * 65 / 2)
  }

  test("streaming twins leave no per-trigger checkpoint pinned after the query stops") {
    // perplexity: model, scores and histogram checkpoints per trigger;
    // covariance: the view's own finish-step checkpoint
    val sc = spark.sparkContext
    val floor = sc.emptyRDD[Int].id // RDD ids only grow: later ids are this run's
    // Every RDD the run stores blocks for is held here: the persisted-RDD
    // registry keeps RDDs weakly, so without a strong reference a GC
    // would let the ContextCleaner reclaim a leaked checkpoint before the
    // check below could see it.
    val held = new java.util.concurrent.ConcurrentHashMap[Int, org.apache.spark.rdd.RDD[_]]()
    val stored = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onBlockUpdated(
          e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId.asRDDId.foreach { b =>
          stored.add(b.rddId)
          sc.getPersistentRDDs.get(b.rddId).foreach(held.put(b.rddId, _))
        }
    }
    sc.addSparkListener(listener)
    val base = Files.createTempDirectory("graft_release").toString
    try {
      Seq(EventStream.perplexityBucketStream(spark, sf, s"$base/ppx", splitAt = Some(250L)),
          EventStream.covarianceStream(spark, sf, s"$base/cov", splitAt = Some(250L)))
        .foreach { q => q.processAllAvailable(); q.stop() }
      assert(EventStream.parts(spark, s"$base/ppx", "batch").size === 2)
      assert(EventStream.parts(spark, s"$base/cov", "batch").size === 2)
      // releases are non-blocking: poll, and never force a GC
      def pinned = sc.getRDDStorageInfo.map(_.id).filter(_ > floor).sorted.toSeq
      val deadline = System.currentTimeMillis + 5000
      while (pinned.nonEmpty && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(!stored.isEmpty, "sanity: the triggers stored checkpoint blocks")
      assert(pinned.isEmpty, s"cached RDDs left pinned by the streams: $pinned")
    } finally {
      sc.removeSparkListener(listener)
      held.values.forEach(r => { r.unpersist(blocking = false); () })
    }
  }

  test("streaming bigram logloss: model carried across triggers; reconcile settles to one-shot") {
    val sink = Files.createTempDirectory("graft_bgstream").toString + "/bigram"
    val q = EventStream.bigramLoglossStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val docs = Tables.documents(spark, sf)
    val oneShot = graft.operators.TextOps.bigramLogloss(docs)
    // online drift exists by construction (trigger-1 docs were scored
    // under the prefix model) — report, don't assert its size
    val online = EventStream.readParts(spark, sink)
    val drift = online.exceptAll(oneShot).count()
    info(s"online-vs-settled bigram score drift: $drift rows")
    // trigger-2 scores used the FULL model (merge associativity), so
    // they already equal the one-shot restricted to the second half
    val t2 = spark.read.parquet(s"$sink/${batches.last}")
    val t2Shot = oneShot.filter(col("doc_id") >= 250)
    assert(t2.exceptAll(t2Shot).count() === 0)
    assert(t2Shot.exceptAll(t2).count() === 0)
    // the settled answer: sunk pairs + final model, no text re-scan
    val settled = EventStream.reconcileBigramLogloss(spark, sink)
    assert(settled.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(settled).count() === 0)
  }

  test("streaming dsir weights: bounded bucket models carried; trigger-2 ≡ incremental; reconcile settles to one-shot") {
    val sink = Files.createTempDirectory("graft_dsirstream").toString + "/dsir"
    val q = EventStream.dsirWeightsStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val docs = Tables.documents(spark, sf)
    val tgt = col("lang") === "en"
    val oneShot = graft.operators.Corpus.dsirWeights(docs, tgt)
    // online drift exists by construction (trigger-1 raw docs scored
    // under the prefix models) — report, don't assert its size
    val online = EventStream.readParts(spark, sink)
    info(s"online-vs-settled dsir weight drift: " +
      s"${online.exceptAll(oneShot).count()} rows")
    // trigger-2 scored under the merged (= full) models: exactly the
    // incremental-admission view = one-shot restricted to its half
    val t2 = spark.read.parquet(s"$sink/${batches.last}")
    val first = docs.filter(col("doc_id") < 250)
    val second = docs.filter(col("doc_id") >= 250)
    val t2Inc = graft.operators.Corpus.dsirWeightsIncremental(second, tgt,
      graft.operators.Corpus.dsirBucketCounts(first.filter(tgt)),
      graft.operators.Corpus.dsirBucketCounts(first.filter(!tgt)))
    assert(t2.exceptAll(t2Inc).count() === 0)
    assert(t2Inc.exceptAll(t2).count() === 0)
    // carried state is BOUNDED: ≤ 2·DsirBuckets rows regardless of
    // corpus size — the histogram class, not the vocabulary² class
    val latest = EventStream.parts(spark, sink + ".state", "upto").last._2
    val st = spark.read.parquet(latest)
    assert(st.count() <= 2L * graft.operators.Corpus.DsirBuckets)
    // the settled answer: sunk compact features + final models, no
    // text re-scan
    val settled = EventStream.reconcileDsirWeights(spark, sink)
    assert(settled.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(settled).count() === 0)
  }

  test("streaming trigram backoff: held-out model carried across triggers; reconcile settles to one-shot") {
    val sink = Files.createTempDirectory("graft_tgstream").toString + "/trigram"
    val q = EventStream.trigramBackoffStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val docs = Tables.documents(spark, sf)
    val oneShot = graft.operators.TextOps.trigramBackoff(
      docs.filter(col("doc_id") % 2 =!= 0), docs.filter(col("doc_id") % 2 === 0))
    // online drift exists by construction (trigger-1 probes scored
    // under the prefix model) — report, don't assert its size
    val online = EventStream.readParts(spark, sink)
    info(s"online-vs-settled trigram backoff drift: " +
      s"${online.exceptAll(oneShot).count()} rows")
    // trigger-2 scored under the merged (= full even-doc) model, so
    // it already equals the one-shot restricted to its probe half
    val t2 = spark.read.parquet(s"$sink/${batches.last}")
    val t2Shot = oneShot.filter(col("doc_id") >= 250)
    assert(t2.exceptAll(t2Shot).count() === 0)
    assert(t2Shot.exceptAll(t2).count() === 0)
    // the settled answer: sunk compact probes + final model, no text
    // re-scan — equals the one-shot over everything arrived
    val settled = EventStream.reconcileTrigramBackoff(spark, sink)
    assert(settled.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(settled).count() === 0)
  }

  test("streaming unimax: bounded lang-token state carried; every trigger bit-identical to the one-shot over arrivals") {
    val sink = Files.createTempDirectory("graft_unimax").toString + "/unimax"
    val q = EventStream.unimaxStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val docs = Tables.documents(spark, sf)
    // no-drift contract: each trigger IS the one-shot over the prefix
    val t1 = spark.read.parquet(s"$sink/${batches.head}")
    val shot1 = graft.operators.Corpus.unimax(docs.filter(col("doc_id") < 250))
    assert(t1.exceptAll(shot1).count() === 0)
    assert(shot1.exceptAll(t1).count() === 0)
    val t2 = spark.read.parquet(s"$sink/${batches.last}")
    val shot2 = graft.operators.Corpus.unimax(docs)
    assert(t2.exceptAll(shot2).count() === 0)
    assert(shot2.exceptAll(t2).count() === 0)
    // the carried state is ≤|langs| rows — the bounded histogram class
    val stDir = EventStream.parts(spark, sink + ".state", "upto").last._2
    val nLangs = docs.select("lang").distinct().count()
    assert(spark.read.parquet(stDir).count() <= nLangs)
  }

  test("streaming semantic admission: kept-exemplar index carried; per-trigger ≡ sequential batch admission") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_semadm").toString + "/semadm"
    val emb = Tables.embeddings(spark, sf)
    val code = graft.operators.Similarity.kmeansCodebook(emb, 8, 3)
    val q = EventStream.semdedupAdmissionStream(spark, sf, sink, code,
      splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    // sequential replay through the BATCH operator (the admission
    // contract is order-dependent; per-trigger frame equality IS the
    // twin's correctness statement)
    val first = emb.filter(col("vec_id") < 250)
    val second = emb.filter(col("vec_id") >= 250)
    val empty = Seq.empty[(Long, Long, Array[Float])]
      .toDF("vec_id", "cell_id", "embedding")
    def indexRows(adm: org.apache.spark.sql.DataFrame,
                  vecs: org.apache.spark.sql.DataFrame) =
      adm.select(col("vec_id"), col("cell_id"))
        .join(vecs.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .select("vec_id", "cell_id", "embedding")
    val adm1 = graft.operators.Similarity
      .semdedupAdmitWithIndex(empty, first, code)
    val idx1 = empty.unionByName(indexRows(adm1, first))
      .localCheckpoint(true)
    val adm2 = graft.operators.Similarity
      .semdedupAdmitWithIndex(idx1, second, code)
    val t1 = spark.read.parquet(s"$sink/${batches.head}")
    val t2 = spark.read.parquet(s"$sink/${batches.last}")
    assert(t1.exceptAll(adm1).count() === 0)
    assert(adm1.exceptAll(t1).count() === 0)
    assert(t2.exceptAll(adm2).count() === 0)
    assert(adm2.exceptAll(t2).count() === 0)
    // index-maintenance invariant: final carried state = trigger-1
    // index ∪ trigger-2 admitted rows (maintained, never recomputed)
    val stDir = EventStream.parts(spark, sink + ".state", "upto").last._2
    val finalIdx = spark.read.parquet(stDir)
      .select("vec_id", "cell_id")
    val expectIdx = idx1.select("vec_id", "cell_id")
      .unionByName(adm2.select("vec_id", "cell_id"))
    assert(finalIdx.exceptAll(expectIdx).count() === 0)
    assert(expectIdx.exceptAll(finalIdx).count() === 0)
    // boundedness argument carried across triggers: within every cell
    // the final index is pairwise cos < τ (τ-packing — the reason the
    // state can't grow unboundedly at fixed codebook)
    val idxFull = spark.read.parquet(stDir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cosv(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for {
      (ia, ca, va) <- idxFull; (ib, cb, vb) <- idxFull
      if ia < ib && ca == cb
    } assert(cosv(va, vb) < 0.4,
      s"index must stay pairwise below τ in-cell: $ia vs $ib")
  }

  test("streaming perplexity buckets: model+histogram carried; online buckets drift; reconcile settles to one-shot") {
    val sink = Files.createTempDirectory("graft_ppxstream").toString + "/ppx"
    val q = EventStream.perplexityBucketStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val docs = Tables.documents(spark, sf)
    val oneShot = graft.operators.TextOps.perplexityBuckets(docs)
    // every arrived doc got an online decision, exactly once
    val online = EventStream.readParts(spark, sink)
    assert(online.count() === oneShot.count())
    assert(online.select("doc_id").distinct().count() === oneShot.count())
    // online decisions drift TWICE over (younger model AND thresholds
    // cut from drifted scores) — genuine by construction for any
    // online corpus-relative decision; report, don't assert a size.
    // Compare on the decision columns: threshold columns differ
    // trivially at trigger 1.
    val dec = Seq("doc_id", "lang", "bucket", "kept").map(col)
    val drift = online.select(dec: _*)
      .exceptAll(oneShot.select(dec: _*)).count()
    info(s"online-vs-settled bucket drift: $drift of ${oneShot.count()} docs")
    // trigger-2 SCORES are final (full model) but trigger-2 BUCKETS
    // can still drift: its thresholds read a histogram whose
    // trigger-1 half holds drifted scores — the decision layer's own
    // drift, distinct from the score layer's (report it too)
    val t2 = spark.read.parquet(s"$sink/${batches.last}")
    val t2Drift = t2.select(dec: _*)
      .exceptAll(oneShot.select(dec: _*)).count()
    info(s"trigger-2 bucket drift (threshold-side only): $t2Drift of ${t2.count()} docs")
    // the settled answer: sunk pairs + final model + rebuilt
    // histogram — no text re-scan — equals the one-shot operator
    val settled = EventStream.reconcilePerplexityBuckets(spark, sink)
    assert(settled.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(settled).count() === 0)
  }

  test("streaming perplexity buckets under a NON-DEFAULT kept fraction (r11 ADVICE): the explicit 1/2 reaches both the online triggers and the reconcile") {
    val sink = Files.createTempDirectory("graft_ppxstream_kept").toString + "/ppx"
    val q = EventStream.perplexityBucketStream(spark, sf, sink,
      splitAt = Some(250L), kept = (1, 2))
    q.processAllAvailable(); q.stop()
    val docs = Tables.documents(spark, sf)
    // reconcile must equal the one-shot AT THE SAME fraction — the
    // old hardcoded 2/3 default silently broke exactly this contract
    val oneShot = graft.operators.TextOps.perplexityBuckets(docs, 1, 2)
    val settled = EventStream.reconcilePerplexityBuckets(spark, sink,
      kept = (1, 2))
    assert(settled.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(settled).count() === 0)
    // and the ONLINE path used 1/2 too: trigger-2's published buckets
    // must equal re-bucketing its own scores against thresholds cut
    // at 1/2 from the full online histogram (trigger-2 scores are
    // final — full model — so only the threshold side is in play)
    val online = EventStream.readParts(spark, sink)
      .select(col("doc_id"), col("lang"), col("logloss_microbits"))
    val t2scores = spark.read.parquet(s"$sink/batch_1")
      .select(col("doc_id"), col("lang"), col("logloss_microbits"))
    val expectT2 = graft.operators.TextOps.bucketAgainstThresholds(t2scores,
      graft.operators.TextOps.perplexityThresholds(
        graft.operators.TextOps.perplexityHistogram(online), 1, 2))
    val gotT2 = spark.read.parquet(s"$sink/batch_1")
      .select(expectT2.columns.map(col): _*)
    assert(gotT2.exceptAll(expectT2).count() === 0)
    assert(expectT2.exceptAll(gotT2).count() === 0)
  }

  test("streaming per-source cap: every trigger's snapshot is BIT-identical to its one-shot prefix") {
    val sink = Files.createTempDirectory("graft_capstream").toString + "/cap"
    val q = EventStream.capPerSourceStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val docs = Tables.documents(spark, sf)
    // per-source top-cap is exactly associative — the bit-identical
    // class: trigger-1 snapshot ≡ one-shot over the prefix, final ≡
    // one-shot over everything, no reconcile
    val mid = spark.read.parquet(s"$sink/${batches.head}")
    val midShot = graft.operators.Corpus
      .capPerSource(docs.filter(col("doc_id") < 250))
    assert(mid.exceptAll(midShot).count() === 0)
    assert(midShot.exceptAll(mid).count() === 0)
    val fin = spark.read.parquet(s"$sink/${batches.last}")
    val oneShot = graft.operators.Corpus.capPerSource(docs)
    assert(fin.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(fin).count() === 0)
    assert(fin.count() > 0)
  }

  test("streaming heavy hitters: cells state ≡ one-shot; probe ≡ incremental contract") {
    val sink = Files.createTempDirectory("graft_cmsstream").toString + "/hh"
    val q = EventStream.heavyHittersStream(spark, sf, sink, splitAt = Some(500L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val ev = Tables.events(spark, sf)
    // the carried cell table after the final trigger is BIT-identical
    // to the one-shot sketch over every event arrived (sum-merge
    // associativity — the covariance-class state contract). Read only
    // the LATEST version — pruning deliberately keeps one superseded
    // upto_* behind for replay safety.
    val latestUpto = EventStream.parts(spark, s"$sink.state", "upto").last._2
    val state = spark.read.parquet(latestUpto)
    val oneShotCells = graft.operators.EventOps.cmsCells(ev)
    assert(state.exceptAll(oneShotCells).count() === 0)
    assert(oneShotCells.exceptAll(state).count() === 0)
    // trigger 2's published ranking equals the batch-staged incremental
    // operator over the same prefix/batch split
    val t2 = spark.read.parquet(s"$sink/${batches.last}")
    val expected = graft.operators.EventOps.heavyHittersCmsIncremental(
      ev.filter(col("event_id") < 500), ev.filter(col("event_id") >= 500))
    assert(t2.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(t2).count() === 0)
    assert(t2.count() > 0)
  }

  test("streaming zipf: every trigger's fit is BIT-identical to its one-shot prefix") {
    val sink = Files.createTempDirectory("graft_zipfstream").toString + "/zipf"
    val q = EventStream.zipfSlopeStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val docs = Tables.documents(spark, sf)
    val mid = spark.read.parquet(s"$sink/${batches.head}")
    val midShot = graft.operators.Corpus.zipfSlope(docs.filter(col("doc_id") < 250))
    assert(mid.exceptAll(midShot).count() === 0)
    assert(midShot.exceptAll(mid).count() === 0)
    val fin = spark.read.parquet(s"$sink/${batches.last}")
    val oneShot = graft.operators.Corpus.zipfSlope(docs)
    assert(fin.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(fin).count() === 0)
    assert(fin.count() > 0)
  }

  test("streaming hll: every trigger's estimate is BIT-identical to its one-shot prefix") {
    val sink = Files.createTempDirectory("graft_hllstream").toString + "/vocab"
    val q = EventStream.vocabHllStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val docs = Tables.documents(spark, sf)
    def oneShotNoExact(d: org.apache.spark.sql.DataFrame) =
      graft.operators.TextOps.vocabHllFromRegisters(
        graft.operators.TextOps.vocabHllRegisters(d))
    val mid = spark.read.parquet(s"$sink/${batches.head}")
    val midShot = oneShotNoExact(docs.filter(col("doc_id") < 250))
    assert(mid.exceptAll(midShot).count() === 0)
    assert(midShot.exceptAll(mid).count() === 0)
    val fin = spark.read.parquet(s"$sink/${batches.last}")
    val oneShot = oneShotNoExact(docs)
    assert(fin.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(fin).count() === 0)
    assert(fin.count() === 1L)
  }

  test("streaming tokenizer apply: union of per-batch sinks is BIT-identical to batch encodeWith (r13)") {
    val docs = Tables.documents(spark, sf)
    // the artifact predates the stream — trained once, outside it
    val pieces = graft.operators.UnigramLm.train(docs)
    val sink = Files.createTempDirectory("graft_tokstream").toString + "/tokens"
    val q = EventStream.tokenizeStream(spark, sf, sink, pieces,
      splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    // stateless twin: each batch sink IS the one-shot over its slice,
    // so the union is the one-shot over everything — bit-for-bit
    val union = batches.map(b => spark.read.parquet(s"$sink/$b"))
      .reduce(_ unionByName _)
    val oneShot = graft.operators.UnigramLm.encodeWith(docs, pieces)
    assert(union.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(union).count() === 0)
    assert(union.count() === oneShot.count() && union.count() > 0)
    val mid = spark.read.parquet(s"$sink/${batches.head}")
    val midShot = graft.operators.UnigramLm
      .encodeWith(docs.filter(col("doc_id") < 250), pieces)
    assert(mid.exceptAll(midShot).count() === 0)
    assert(midShot.exceptAll(mid).count() === 0)
    // the BPE twin under the same stateless contract
    val (merges, w) = graft.operators.Bpe.train(docs, nMerges = 8)
    org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(w)
    val sinkB = Files.createTempDirectory("graft_tokstream_bpe")
      .toString + "/tokens"
    val qb = EventStream.tokenizeBpeStream(spark, sf, sinkB, merges,
      splitAt = Some(250L))
    qb.processAllAvailable(); qb.stop()
    val batchesB = new java.io.File(sinkB).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batchesB.length === 2)
    val unionB = batchesB.map(b => spark.read.parquet(s"$sinkB/$b"))
      .reduce(_ unionByName _)
    val oneShotB = graft.operators.Bpe.encodeWith(docs, merges)
    assert(unionB.exceptAll(oneShotB).count() === 0)
    assert(oneShotB.exceptAll(unionB).count() === 0)
    assert(unionB.count() === oneShotB.count() && unionB.count() > 0)
  }

  test("streaming reservoir: every trigger's snapshot is BIT-identical to its one-shot prefix") {
    val sink = Files.createTempDirectory("graft_resstream").toString + "/reservoir"
    val q = EventStream.reservoirStream(spark, sf, sink, splitAt = Some(250L))
    q.processAllAvailable(); q.stop()
    val batches = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val docs = Tables.documents(spark, sf)
    // strongest twin contract (the covariance class): the trigger-1
    // snapshot equals the one-shot sample over the prefix, the final
    // snapshot the one-shot over everything — bit-for-bit
    val mid = spark.read.parquet(s"$sink/${batches.head}")
    val midShot = graft.operators.Corpus
      .prioritySample(docs.filter(col("doc_id") < 250))
    assert(mid.exceptAll(midShot).count() === 0)
    assert(midShot.exceptAll(mid).count() === 0)
    val fin = spark.read.parquet(s"$sink/${batches.last}")
    val oneShot = graft.operators.Corpus.prioritySample(docs)
    assert(fin.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(fin).count() === 0)
    assert(fin.count() === 25L)
  }

  test("streaming budget selection: single trigger equals one-shot; two-trigger reconcile settles") {
    val sink1 = Files.createTempDirectory("graft_budgetstream")
      .toString + "/selected"
    val q1 = EventStream.selectBudgetStream(spark, sf, sink1)
    q1.processAllAvailable(); q1.stop()
    val streamed = EventStream.readParts(spark, sink1)
    val oneShot = graft.operators.Corpus.selectBudget(Tables.documents(spark, sf))
    assert(streamed.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(streamed).count() === 0)
    assert(oneShot.filter(col("kept")).count() > 0)
    // two REAL triggers: the carried token histogram continues, and the
    // retro re-selection against the final state equals the one-shot
    val sink2 = Files.createTempDirectory("graft_budgetstream2")
      .toString + "/selected"
    val q2 = EventStream.selectBudgetStream(spark, sf, sink2, splitAt = Some(250L))
    q2.processAllAvailable(); q2.stop()
    val batches = new java.io.File(sink2).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted
    assert(batches.length === 2, s"expected two triggers, got ${batches.toSeq}")
    val online = EventStream.readParts(spark, sink2)
    val drift = online.select("doc_id", "kept")
      .exceptAll(oneShot.select("doc_id", "kept")).count()
    info(s"online-vs-settled selection drift: $drift docs")
    val settled = EventStream.reconcileSelectBudget(spark, sink2)
    assert(settled.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(settled).count() === 0)
  }

  test("retro-reconcile demotes the late-connected twin (adversarial arrival order)") {
    // Stage EXACTLY the case online admission cannot solve: docs 7 and
    // 32 share no band (no edge), doc 40 — the component's connecting
    // doc — shares a band with EACH, and arrives in a LATER trigger
    // (splitAt = 40 puts {7,32} in the first file, {40} in the second).
    // Discovered from the fixture's minhash pair graph and pinned; the
    // preconditions are asserted below so a regenerated corpus fails
    // loudly instead of vacuously passing.
    val docs = Tables.documents(spark, sf)
    val Seq(x, y, z) = Seq(7L, 32L, 40L)
    val three = docs.filter(col("doc_id").isin(x, y, z))
    val pairs = graft.operators.Dedup.minhashPairs(three)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((x, z), (y, z)),
      s"fixture drifted: expected path edges ($x,$z),($y,$z) only, got $pairs")
    val emptyCorpus = docs.filter(lit(false))
    val sink = Files.createTempDirectory("graft_reconcile").toString + "/admitted"
    val q = EventStream.admissionPipelineStream(spark, sf, emptyCorpus,
      col("doc_id").isin(x, y, z), sink, splitAt = Some(z))
    q.processAllAvailable(); q.stop()
    // the online stream admits BOTH members — it cannot see the edge
    // that hasn't arrived (this is the gap, exercised for real)
    val streamedIds = EventStream.readParts(spark, sink)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamedIds === Set(x, y),
      s"stream should admit both non-colliding members, got $streamedIds")
    // the retro pass closes the component over the carried band-graph
    // state and settles on the one-shot answer: min-id canonical,
    // full component size
    val retro = EventStream.reconcileAdmission(spark, sink)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val oneShot = graft.operators.Dedup.admitNearDup(emptyCorpus, three)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(retro.toSeq === Seq((x, 3L, 2L)))
    assert(retro.toSeq === oneShot.toSeq,
      "streamed state + reconcile must equal the one-shot admission")
  }

  test("streaming dedup-by-signature matches the batch canonical set") {
    val q = EventStream.dedupBySignatureStream(spark, sf)
      .writeStream.outputMode("append").format("memory")
      .queryName("sig_dedup_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sig_dedup_out").cache()
    val batch = graft.operators.Dedup.exact(Tables.documents(spark, sf)).cache()
    // one survivor per distinct fingerprint — same group count as batch
    val batchGroups = batch.select("fp_md5").distinct()
    assert(streamed.count() === batchGroups.count())
    assert(streamed.select("fp_md5").exceptAll(batchGroups).count() === 0)
    assert(batchGroups.exceptAll(streamed.select("fp_md5")).count() === 0)
    // every kept doc belongs to the fingerprint group batch assigns it to
    // (streaming keeps first ARRIVAL, batch keeps min id — membership,
    // not identity, is the cross-mode contract)
    val misassigned = streamed.join(batch,
        Seq("doc_id"), "inner")
      .filter(streamed("fp_md5") =!= batch("fp_md5"))
    assert(misassigned.count() === 0)
    streamed.unpersist(); batch.unpersist()
  }
}
