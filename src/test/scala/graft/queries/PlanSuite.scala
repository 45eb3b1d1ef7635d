package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan regression guards: the scale properties the gate
  * queries were designed around must survive refactors — a broadcast
  * that silently becomes a shuffle join, a filter that stops reaching
  * the parquet scan, or a top-K that becomes a global sort would pass
  * correctness gates while ruining 100 TB behavior.
  */
class PlanSuite extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(FormattedMode)
  }

  test("README's driver-contract gate counts match the registry") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(sys.props("user.dir"), "README.md")),
      java.nio.charset.StandardCharsets.UTF_8).replaceAll("\\s+", " ")
    val m = """exposes (\d+) gate queries \((\d+) DuckDB-oracled""".r
      .findFirstMatchIn(readme)
    assert(m.isDefined, "README lost its gate-count sentence")
    assert(m.get.group(1).toInt === graft.SparkEntry.queryOrder.size)
    assert(m.get.group(2).toInt === graft.SparkEntry.oracleSql.size)
  }

  test("dimension joins broadcast (q3, q20)") {
    assert(planOf("q3_join_revenue").contains("BroadcastHashJoin"))
    val star = planOf("q20_star_join")
    assert(star.contains("BroadcastHashJoin"))
  }

  test("q30 market share: dims broadcast, one fact-fact shuffle edge") {
    val plan = planOf("q30_market_share")
    // part, supplier, customer, nation x2, region — at least five
    // broadcast joins; the shape must never degrade to nested-loop
    // or cartesian
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 5, s"expected >=5 broadcast joins:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"wide join degraded to a product:\n$plan")
    // the lineitem-orders fact edge is the only join allowed to
    // shuffle; everything else rides the broadcast chain
    val nShuffleJoin = "SortMergeJoin".r.findAllIn(plan).length +
      "ShuffledHashJoin".r.findAllIn(plan).length
    assert(nShuffleJoin <= 1,
      s"more than the fact-fact edge shuffles ($nShuffleJoin):\n$plan")
    // selective dim filters reach the scans
    assert(plan.contains("PushedFilters: [IsNotNull(p_type), EqualTo(p_type,PROMO)]") ||
      plan.contains("EqualTo(p_type,PROMO)"), s"p_type not pushed:\n$plan")
  }

  test("filters and projections reach the parquet scan (q2)") {
    val plan = planOf("q2_filter_project")
    assert(plan.contains("PushedFilters: ["))
    assert(!plan.contains("PushedFilters: []"))
    // narrow projection: the scan must not read all lineitem columns
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.count(_ == ',') < 8,
      s"scan reads too many columns: $readSchema")
  }

  test("top-K plans as TakeOrderedAndProject, not a global sort (q5)") {
    val plan = planOf("q5_topk_orders")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("lake reads plan through LakeFileIndex with partition filters") {
    val plan = planOf("lake_partition_scan")
    assert(plan.contains("LakeFileIndex"))
    assert(plan.contains("PartitionFilters: ["))
  }

  test("sessionize plans as window+sort, not a group materialization") {
    val plan = planOf("sessionize_events")
    // gaps-and-islands: spillable sort + streaming window frames;
    // a typed flatMapGroups plan (MapGroups over materialized groups)
    // would OOM on one hot user at scale
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("MapGroups"), plan)
  }

  test("DV-free lake scans keep the single-relation plan; DV scans keep pushdown") {
    import org.apache.spark.sql.functions.col
    import graft.lake.{LakeTable, LakeWriter}
    import spark.implicits._
    val path = tablePath("plan-dv")
    LakeWriter.write(
      Seq.tabulate(100)(i => (i.toLong, i % 10, s"r$i"))
        .toDF("id", "bucket", "s").coalesce(2),
      path, properties = Map(LakeTable.PROP_ENABLE_DV -> "true"))
    // no DVs yet: one relation, no join in the plan
    val clean = LakeTable.forPath(spark, path).toDF
      .filter(col("bucket") === 3)
      .queryExecution.explainString(FormattedMode)
    assert(!clean.contains("Join"), clean)
    assert(clean.contains("PushedFilters: [") &&
      !clean.contains("PushedFilters: []"), clean)
    // with DVs: membership is applied IN the scan's filter (binary
    // search over the decoded vector) — still one relation, no join,
    // no exchange at any deleted-row cardinality, and the data filter
    // still reaches the parquet scan
    LakeTable.forPath(spark, path).delete("id % 7 = 0")
    val dv = LakeTable.forPath(spark, path).toDF
      .filter(col("bucket") === 3)
      .queryExecution.explainString(FormattedMode)
    assert(!dv.contains("Join"), dv)
    assert(!dv.contains("Exchange"), dv)
    assert(dv.contains("EqualTo(bucket,3)"), dv)
    assert(!dv.contains("PushedFilters: []"), dv)
  }

  test("segment dedup is one partial-agg shuffle: no window, no join") {
    val df = graft.ops.DedupOps.segmentDedup(
      spark.read.parquet(s"$sfDir/documents.parquet"), "text", "doc_id")
    val plan = df.queryExecution.explainString(FormattedMode)
    assert(!plan.contains("Window"), "keep-first must not plan a window")
    assert(!plan.contains("Join"), "no join-back at any stage")
    val planOnly = plan.take(plan.indexOf("(1) Scan"))
    val exchanges = planOnly.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"exactly one exchange, got $exchanges")
    // map-side combine: a partial aggregate must sit BELOW the
    // exchange so duplicate segments collapse before they shuffle
    // (the min(struct) buffer is sort- not hash-aggregable — the
    // sorts are agg-internal over compact keys, not a global sort)
    val exchangeIdx = planOnly.linesIterator.indexWhere(_.contains("Exchange"))
    val aggBelow = planOnly.linesIterator.zipWithIndex.exists {
      case (l, i) => i > exchangeIdx && l.contains("Aggregate")
    }
    assert(aggBelow, "partial aggregate must precede the shuffle")
  }

  test("exact-substring dedup shuffles scalars only — text never " +
      "crosses an exchange") {
    val df = graft.ops.DedupOps.exactSubstringSpans(
      spark.read.parquet(s"$sfDir/documents.parquet"), "text", "doc_id",
      minTokens = 20)
    // AQE wraps the plan, so read the formatted explain's per-node
    // detail blocks: each Exchange block's Input line lists exactly
    // the attributes that cross that shuffle
    val plan = df.queryExecution.explainString(FormattedMode)
    val exBlocks = plan.split("\n\n").filter(_.linesIterator
      .toSeq.headOption.exists(_.matches("""\(\d+\) Exchange.*""")))
    assert(exBlocks.nonEmpty, "span derivation must shuffle somewhere")
    // the 100 TB property: every exchange carries (id, pos, fp,
    // island...) scalars — the document text/token arrays stay in the
    // scan-side stage, fingerprinted before anything moves
    exBlocks.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input"))
        .getOrElse("").toLowerCase
      assert(!input.contains("text") && !input.contains("toks"),
        s"an exchange carries corpus payload columns: $input")
    }
  }

  test("semantic dedup candidates broadcast centroids, join within clusters") {
    val df = graft.ops.DedupOps.semanticDupPairs(
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding"),
      "vec_id", "embedding", nClusters = 4, kmeansIters = 0)
    val plan = df.queryExecution.explainString(FormattedMode)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      "centroid set must ride a broadcast, never a shuffle")
    assert(!plan.contains("CartesianProduct"),
      "pair generation must stay cluster-scoped, never all-pairs")
  }

  test("salted join stays a shuffled equi-join on (key, salt)") {
    val plan = planOf("q21_salted_skew_join")
    // the salt must be part of the join keys (no cartesian, no BNLJ)
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("small lake tables auto-broadcast from log-derived stats") {
    import graft.lake.{LakeTable, LakeWriter}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val path = tablePath("plan-stats")
    LakeWriter.write(
      Seq.tabulate(50)(i => (i.toLong, s"dim$i")).toDF("id", "name")
        .coalesce(1), path)
    // no broadcast() hint anywhere: the optimizer must see the lake
    // relation's size (LakeFileIndex.sizeInBytes, from log metadata —
    // never a directory listing) and pick the broadcast side itself
    val fact = spark.range(0, 100000).select(
      (col("id") % 50).as("id"), col("id").as("v"))
    val plan = fact.join(LakeTable.forPath(spark, path).toDF, "id")
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("hash sampling is a scan-level filter: no shuffle in the plan") {
    val plan = planOf("text_sample_hash")
    assert(!plan.contains("Exchange"), plan)
  }

  test("heavy hitters: partial agg + TakeOrderedAndProject, never a full sort") {
    val plan = planOf("text_top_ngrams")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // map-side combine before the shuffle
    assert(plan.contains("HashAggregate"), plan)
  }

  test("k-step funnel plans ONE shuffle, not k joins") {
    val plan = planOf("q27_funnel")
    assert(!plan.contains("Join"), plan)
    // all step windows + the final agg share the entity partitioning:
    // exactly one exchange operator in the whole plan (formatted mode
    // lists each operator twice — tree + detail — so count the
    // detail headers)
    val exchanges = plan.linesIterator
      .count(_.trim.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges === 1, s"$exchanges exchanges:\n$plan")
  }

  test("pack offsets never funnel through one partition") {
    val plan = planOf("text_pack_offsets")
    // shard-local window + broadcast base-offset join; a global-order
    // window would show Exchange SinglePartition
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("incremental dedup anti-joins against a broadcast fingerprint store") {
    // the persisted store's size comes from the lake log (never a
    // directory listing); the optimizer must pick broadcast for the
    // anti-join so the incoming batch never shuffles on fingerprint
    val plan = planOf("dedup_incremental")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("LeftAnti"), plan)
  }

  test("stratified sample under 99% skew keeps the rank-pushdown heap") {
    // one stratum holding ~99% of rows: per-group state must stay the
    // top-N heap Spark's WindowGroupLimit keeps for rank <= k — a full
    // per-partition sort of the hot stratum would spill at scale
    import org.apache.spark.sql.functions.{col, lit, when}
    import spark.implicits._
    val skewed = spark.range(0, 100000).select(
      col("id"),
      when(col("id") % 100 === 0, "rare").otherwise("hot").as("stratum"))
    val sampled = graft.ops.SampleOps.stratifiedSample(
      skewed.toDF, "stratum", "id", 10)
    val plan = sampled.queryExecution.explainString(FormattedMode)
    assert(plan.contains("WindowGroupLimit"), plan)
    // correctness under the same skew: exactly 10 per stratum
    val counts = sampled.groupBy("stratum").count()
      .as[(String, Long)].collect().toMap
    assert(counts === Map("hot" -> 10L, "rare" -> 10L))
  }
}
