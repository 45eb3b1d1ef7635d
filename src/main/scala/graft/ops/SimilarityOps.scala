package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column
  * (`ARRAY<FLOAT>`).
  *
  *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query
  *    set against the corpus, per-partition scoring, top-k via window.
  *    Correct at any corpus size as long as the QUERY side is small;
  *    cost is one corpus scan per batch of queries.
  *  - [[lshTopK]]: the scale path — deterministic random-hyperplane
  *    buckets shrink the candidate set ~2^bits-fold before scoring;
  *    recall traded via `bits` (an IVF-style coarse quantizer built
  *    from seeded hyperplanes instead of k-means centroids, so it
  *    needs no training pass).
  *
  * Dot products use `zip_with` + `aggregate` — built-in higher-order
  * functions, evaluated per-row without UDF serialization overhead.
  */
object SimilarityOps {

  /** Cosine similarity of two float-array columns — native codegen'd
    * expression ([[graft.functions.CosineSimilarity]]); bit-identical
    * to [[cosineComposable]] but stays inside whole-stage codegen.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Reference implementation from built-in higher-order functions
    * (zip_with + aggregate). Kept as the portable/comparison form.
    */
  def cosineComposable(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x * x),
      lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x * x),
      lit(0.0), (acc, v) => acc + v))
    when(na === 0 || nb === 0, 0.0).otherwise(dot / (na * nb))
  }

  /** Deterministic pseudo-random hyperplane sign bucket: `bits` signs,
    * each from the dot product with a hash-derived ±1 hyperplane.
    * Same-direction vectors collide with high probability. Native
    * single-pass expression ([[graft.functions.HyperplaneBucket]]).
    */
  def hyperplaneBucket(vec: Column, bits: Int = 8): Column =
    graft.functions.HyperplaneBucket(vec, bits)

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param queries (qid, vector) — small enough to broadcast
    * @param corpus  (id, vector) — arbitrarily large
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      qidCol: String = "qid", idCol: String = "id",
      vecCol: String = "vec"): DataFrame = {
    val q = broadcast(queries.select(col(qidCol).as("__qid"),
      col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("__id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(q) // broadcast-nested-loop: one corpus scan
      .filter(col("__qid") =!= col("__id"))
      .withColumn("cos", round(cosine(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy("__qid")
      .orderBy(col("cos").desc, col("__id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as("qid"), col("rank"),
        col("__id").as("neighbor_id"), col("cos"))
  }

  /** IVF-style approximate top-k: a coarse quantizer partitions the
    * corpus into `nlist` cells, and each query scores only the
    * `nprobe` cells whose centroids it is closest to.
    *
    * Training-free and deterministic: the centroids are the first
    * `nlist` corpus vectors by id — for near-random high-dimensional
    * data this quantizes comparably to k-means while needing no
    * training pass and no RNG (re-runnable, oracle-friendly). The
    * cell assignment is one broadcast-centroids pass over the corpus
    * (per-row argmax, `max_by`), the probe is a shuffle join on the
    * cell id — candidate volume is ~`nprobe/nlist` of the corpus.
    * At 100 TB the assignment is a cached/materialized index table in
    * practice; here it is recomputed per call for self-containment.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      qidCol: String = "qid", idCol: String = "id",
      vecCol: String = "vec",
      refineIterations: Int = 0): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, "need 1 <= nprobe <= nlist")
    val c = corpus.select(col(idCol).as("__id"), col(vecCol).as("__cv"))
    val centroids =
      if (refineIterations <= 0)
        broadcast(c.orderBy("__id").limit(nlist)
          .select(col("__id").as("__cid"), col("__cv").as("__cent")))
      else broadcast(kmeansCentroids(c, nlist, refineIterations))
    val assigned = c.crossJoin(centroids)
      .withColumn("__sim", cosine(col("__cv"), col("__cent")))
      .groupBy("__id")
      .agg(max_by(col("__cid"), col("__sim")).as("__cid"),
        first(col("__cv")).as("__cv"))
    val qw = Window.partitionBy("__qid").orderBy(
      col("__qsim").desc, col("__cid").asc)
    val probes = broadcast(
      queries.select(col(qidCol).as("__qid"), col(vecCol).as("__qv"))
        .crossJoin(centroids)
        .withColumn("__qsim", cosine(col("__qv"), col("__cent")))
        .withColumn("__prank", row_number().over(qw))
        .filter(col("__prank") <= nprobe)
        .select(col("__qid"), col("__qv"), col("__cid")))
    val w = Window.partitionBy("__qid")
      .orderBy(col("cos").desc, col("__id").asc)
    assigned.join(probes, "__cid")
      .filter(col("__qid") =!= col("__id"))
      .withColumn("cos", round(cosine(col("__qv"), col("__cv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as("qid"), col("rank"),
        col("__id").as("neighbor_id"), col("cos"))
  }

  /** Build a PERSISTED IVF index over `corpus` as a pair of lake
    * tables under `indexPath` — the build-once/probe-many form of
    * [[ivfTopK]], which recomputes the cell assignment on every call:
    *
    *  - `<indexPath>/centroids` — (cell, centroid), `nlist` rows; its
    *    log-derived size makes probe-time joins auto-broadcast.
    *  - `<indexPath>/assignments` — (id, vec, cell) PARTITIONED BY
    *    cell, so a probe's `cell IN (...)` filter prunes to exactly
    *    the probed cells' files at planning time.
    *
    * At 100 TB this is the difference between "ANN query = one corpus
    * scan + assignment shuffle, every time" and "ANN query = read
    * ~nprobe/nlist of the corpus, nothing else": the expensive
    * assignment pass happens once per index build, rides lake ACID
    * (rebuilds are atomic overwrites, readers never see a half-built
    * index), and the probe path is pure partition-pruned scan + one
    * broadcast join.
    */
  def buildIvfIndex(
      corpus: DataFrame, indexPath: String,
      nlist: Int = 16, refineIterations: Int = 0,
      idCol: String = "id", vecCol: String = "vec",
      pq: Boolean = false, pqM: Int = 8, pqK: Int = 16,
      carryCols: Seq[String] = Nil): Unit = {
    // carryCols: metadata columns (label/domain/date) stored alongside
    // each assignment row, so FILTERED search ([[ivfIndexTopK]]'s
    // `filter`) is a codegen'd predicate on the probed cells' scan —
    // no join against the corpus at probe time
    val c = corpus.select(col(idCol).as("__id") +:
      col(vecCol).as("__cv") +: carryCols.map(col): _*)
    val centroids =
      if (refineIterations <= 0)
        broadcast(c.orderBy("__id").limit(nlist)
          .select(col("__id").as("__cid"), col("__cv").as("__cent")))
      else broadcast(kmeansCentroids(c, nlist, refineIterations))
    // canonical nullable array<float>: schema enforcement must see
    // the same type on every rebuild regardless of the source frame's
    // containsNull flag. The two index tables are independent, so
    // their writes (each a full write/commit cycle) run
    // CONCURRENTLY — on a fused build+probe path the commits are a
    // measurable fraction of build wall-clock.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val centroidWrite = Future {
      graft.lake.LakeWriter.write(
        centroids.select(col("__cid").cast("long").as("cell"),
          col("__cent").cast("array<float>").as("centroid")),
        s"$indexPath/centroids", mode = "overwrite",
        operation = "BUILD IVF INDEX")
    }
    val assigned = assignToCells(c, centroids, carryCols)
    graft.lake.LakeWriter.write(assigned, s"$indexPath/assignments",
      mode = "overwrite", partitionBy = Seq("cell"),
      operation = "BUILD IVF INDEX")
    Await.result(centroidWrite, Duration.Inf)
    if (pq) buildPqTables(corpus.sparkSession, indexPath, pqM, pqK)
  }

  /** Cluster-balanced downsampling — the topic-balancing curation
    * stage (SemDeDup/DataComp posture): assign every vector to its
    * nearest of `nlist` deterministic centroids, then thin each
    * cluster toward `capPerCluster` rows with the engine's
    * deterministic md5-coordinate keep rate (`min(1, cap/count)` at
    * 1/65536 grain — the [[SampleOps.tokenBudgetMix]] selector, so
    * the kept set is reproducible cross-engine and per-id stable
    * across reruns). Under-represented clusters keep everything;
    * over-represented ones converge to ~cap. Returns (id, cell) —
    * callers semi-join the corpus by id, so document text/payloads
    * never flow through this op.
    *
    * Scale shape: one broadcast-centroids assignment pass (the
    * corpus's (id, vec) pairs shuffle once for the per-id argmax —
    * identical to [[buildIvfIndex]]'s assignment), one O(nlist)
    * partial-aggregated count, rates ride a broadcast join, and the
    * selection is a codegen'd filter. Nothing driver-sized exceeds
    * the centroid set.
    */
  def clusterBalancedSample(
      corpus: DataFrame, nlist: Int, capPerCluster: Long,
      idCol: String = "id", vecCol: String = "vec",
      refineIterations: Int = 0): DataFrame = {
    require(nlist >= 1, s"need nlist >= 1, got $nlist")
    require(capPerCluster >= 0, s"negative cap: $capPerCluster")
    val c = corpus.select(col(idCol).as("__id"), col(vecCol).as("__cv"))
    val centroids =
      if (refineIterations <= 0)
        broadcast(c.orderBy("__id").limit(nlist)
          .select(col("__id").as("__cid"), col("__cv").as("__cent")))
      else broadcast(kmeansCentroids(c, nlist, refineIterations))
    // the (id, cell) assignment feeds BOTH the per-cell rate estimate
    // and the final keep filter; without materialization Spark plans
    // the whole assign subtree (corpus scan × nlist cosine BNLJ +
    // max_by shuffle) TWICE — plans/r20/sim_cluster_balance_before.txt
    // shows the duplicated subtree. Checkpointing the scalars-only
    // assignment (id, cell — ~16 B/doc, distributed) halves the
    // corpus passes: 2 scans + 2 cosine×nlist sweeps → 1.
    // Cluster caveat (r20 advice): localCheckpoint blocks are
    // unreplicated with lineage truncated — an executor loss beyond
    // local mode fails the op; a production run should swap this (and
    // the kmeans loop's identical usage) for reliable checkpointing
    // or persist(MEMORY_AND_DISK_2).
    val assigned = assignToCells(c, centroids, Nil)
      .select(col("id"), col("cell")).localCheckpoint(true)
    val rates = assigned.groupBy("cell")
      .agg(count(lit(1)).cast("double").as("__n"))
      .withColumn("__rate",
        least(lit(1.0), lit(capPerCluster.toDouble) / col("__n")))
      .select(col("cell"), col("__rate"))
    // 4-hex-digit coordinate vs floor(rate·65536); rate >= 1 keeps
    // all ('zzzz' sorts above every hex coordinate)
    val threshold = when(col("__rate") >= 1.0, lit("zzzz"))
      .otherwise(format_string("%04x",
        floor(col("__rate") * lit(65536.0)).cast("int")))
    assigned.join(broadcast(rates), "cell")
      .filter(substring(md5(col("id").cast("string")), 1, 4) < threshold)
      .select(col("id"), col("cell"))
  }

  /** Nearest-centroid assignment shared by [[buildIvfIndex]] and
    * [[appendToIvfIndex]] — ONE definition so an appended batch can
    * never land in a different cell than a rebuild would put it
    * (similarity function, tie-break, and cast canonicalization all
    * shared). `c` carries (__id, __cv, carryCols...).
    */
  private def assignToCells(c: DataFrame, centroids: DataFrame,
      carryCols: Seq[String]): DataFrame = {
    val aggCols = first(col("__cv")).as("vec") +:
      carryCols.map(n => first(col(n)).as(n))
    c.crossJoin(centroids)
      .withColumn("__sim", cosine(col("__cv"), col("__cent")))
      .groupBy("__id")
      .agg(max_by(col("__cid"), col("__sim")).as("cell"),
        aggCols: _*)
      .select(col("__id").as("id") +:
        col("vec").cast("array<float>").as("vec") +:
        col("cell").cast("long").as("cell") +:
        carryCols.map(col): _*)
  }

  /** Incremental index maintenance: assign NEW vectors to the
    * EXISTING centroids and append them to the assignments table —
    * the steady-state operation of an ANN service ingesting a feed,
    * where rebuilding the whole index per batch would be O(corpus)
    * for O(batch) new data. One broadcast-assign pass over the new
    * vectors, one partitioned APPEND commit; existing cells' files
    * are untouched (probes see old and new vectors the moment the
    * commit lands, atomically). Centroids drift as the distribution
    * does — periodic full [[buildIvfIndex]] rebuilds re-center, and
    * the atomic overwrite swap means probes never see a half-built
    * index. Not supported for PQ indexes (codes would need the
    * codebooks replayed; rebuild instead — refused loudly).
    */
  def appendToIvfIndex(
      newVectors: DataFrame, indexPath: String,
      idCol: String = "id", vecCol: String = "vec",
      carryCols: Seq[String] = Nil): Unit = {
    val spark = newVectors.sparkSession
    require(!new graft.lake.LakeLog(s"$indexPath/pq_codes").exists,
      s"$indexPath is a PQ index: incremental append cannot encode " +
      "codes against the trained codebooks consistently — rebuild " +
      "with buildIvfIndex(pq = true)")
    // the append must supply EXACTLY the carry columns the index
    // stores: a missing one would be silently null-filled by schema
    // reconciliation and the appended vectors would be permanently
    // invisible to every filtered search on it
    val stored = graft.lake.LakeTable
      .forPath(spark, s"$indexPath/assignments").snapshot()
      .schema.fieldNames.toSet -- Set("id", "vec", "cell")
    require(stored == carryCols.toSet,
      s"index at $indexPath stores carry columns " +
      s"[${stored.toSeq.sorted.mkString(", ")}]; appendToIvfIndex " +
      s"must supply the same (got [${carryCols.sorted.mkString(", ")}])")
    val centroids = broadcast(
      graft.lake.LakeTable.forPath(spark, s"$indexPath/centroids").toDF
        .select(col("cell").as("__cid"), col("centroid").as("__cent")))
    val c = newVectors.select(col(idCol).as("__id") +:
      col(vecCol).as("__cv") +: carryCols.map(col): _*)
    graft.lake.LakeWriter.write(assignToCells(c, centroids, carryCols),
      s"$indexPath/assignments",
      mode = "append", partitionBy = Seq("cell"),
      operation = "APPEND IVF INDEX")
    ()
  }

  /** Product-quantize the RESIDUALS of a built IVF index (public:
    * Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011 — the IVFADC layout) into two more lake
    * tables under `indexPath`:
    *
    *  - `pq_codebooks` — (m, code, center), `pqM`·`pqK` rows of
    *    subspace centers trained on residuals (vec − cell centroid).
    *    Metadata-sized: probes load it like the centroid table.
    *  - `pq_codes` — (id, codes ARRAY<INT>, norm_hat) PARTITIONED BY
    *    cell: `pqM` small ints plus one float per vector instead of
    *    the full float vector. At 100 TB of embeddings this is what a
    *    probe READS to rank candidates — 16–32× fewer bytes than the
    *    assignment vectors — with `norm_hat` (the reconstruction's
    *    norm, fixed at encode time) making the ADC score an exact
    *    cosine against the reconstruction.
    *
    * Codebook training is deterministic and driver-side on a bounded
    * sample (max(8·pqK, 256) residuals by md5-coordinate order — the
    * engine's standard deterministic selector, chosen over xxhash64
    * because a DuckDB oracle can replay `md5(id)` but not Spark's
    * xxhash64; same metadata-sized-collect posture as
    * [[kmeansCentroids]]): greedy farthest-point seeding then 3 Lloyd
    * iterations per subspace.
    * ENCODING is distributed: one mapPartitions pass over the
    * committed assignments with the codebooks riding a broadcast —
    * per-task init (decode codebooks once) is the point, the
    * mapPartitions escape hatch this repo reserves for exactly that.
    */
  private def buildPqTables(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      pqM: Int, pqK: Int): Unit = {
    import spark.implicits._
    val centMap: Map[Long, Array[Float]] = graft.lake.LakeTable
      .forPath(spark, s"$indexPath/centroids").toDF
      .select(col("cell"), col("centroid"))
      .as[(Long, Seq[Float])].collect()
      .map { case (c, v) => c -> v.toArray }.toMap
    require(centMap.nonEmpty, "buildPqTables: empty centroid table")
    val dim = centMap.head._2.length
    require(pqM >= 1 && pqM <= dim,
      s"pqM=$pqM must be in [1, $dim] for $dim-dim vectors")
    val assignments = graft.lake.LakeTable
      .forPath(spark, s"$indexPath/assignments").toDF
    val sample = assignments
      .withColumn("__h", md5(col("id").cast("string")))
      .orderBy(col("__h"), col("id"))
      .limit(math.max(8 * pqK, 256))
      .select(col("vec"), col("cell"))
      .as[(Seq[Float], Long)].collect()
      .map { case (v, cell) =>
        val va = v.toArray; val cent = centMap(cell)
        Array.tabulate(dim)(i => va(i) - cent(i))
      }
    val bounds = Array.tabulate(pqM)(m =>
      (m * dim / pqM, (m + 1) * dim / pqM))
    val codebooks: Array[Array[Array[Float]]] =
      bounds.map { case (s, e) =>
        trainSubspaceCodebook(sample.map(_.slice(s, e)), pqK)
      }
    val cbRows = for {
      m <- codebooks.indices; k <- codebooks(m).indices
    } yield (m, k, codebooks(m)(k).toSeq)
    // the two PQ tables are independent; write codebooks while the
    // (heavier) encode pass runs, mirroring the index build above
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val cbWrite = Future {
      graft.lake.LakeWriter.write(
        cbRows.toDF("m", "code", "center")
          .select(col("m").cast("int"), col("code").cast("int"),
            col("center").cast("array<float>")),
        s"$indexPath/pq_codebooks", mode = "overwrite",
        operation = "BUILD IVF PQ")
    }
    val centB = spark.sparkContext.broadcast(centMap)
    val cbB = spark.sparkContext.broadcast(codebooks)
    val mVal = pqM
    val encoded = assignments.select(col("id"), col("vec"), col("cell"))
      .as[(Long, Seq[Float], Long)]
      .mapPartitions { it =>
        val cents = centB.value; val cbs = cbB.value
        val d = cents.head._2.length
        val bds = Array.tabulate(mVal)(m =>
          (m * d / mVal, (m + 1) * d / mVal))
        it.map { case (id, vec, cell) =>
          val va = vec.toArray
          val cent = cents(cell)
          val res = Array.tabulate(d)(i => va(i) - cent(i))
          val vhat = cent.clone()
          val codes = new Array[Int](mVal)
          var m = 0
          while (m < mVal) {
            val (s, e) = bds(m)
            val cb = cbs(m)
            var best = 0; var bestD = Double.MaxValue; var k = 0
            while (k < cb.length) {
              var dd = 0.0; var i = s
              while (i < e) {
                val diff = res(i) - cb(k)(i - s); dd += diff * diff; i += 1
              }
              if (dd < bestD) { bestD = dd; best = k }
              k += 1
            }
            codes(m) = best
            var i = s
            while (i < e) { vhat(i) += cb(best)(i - s); i += 1 }
            m += 1
          }
          var nh = 0.0; var i = 0
          while (i < d) { nh += vhat(i) * vhat(i); i += 1 }
          (id, codes.toSeq, math.sqrt(nh).toFloat, cell)
        }
      }.toDF("id", "codes", "norm_hat", "cell")
    graft.lake.LakeWriter.write(
      encoded.select(col("id"), col("codes").cast("array<int>"),
        col("norm_hat").cast("float"), col("cell").cast("long")),
      s"$indexPath/pq_codes", mode = "overwrite",
      partitionBy = Seq("cell"), operation = "BUILD IVF PQ")
    Await.result(cbWrite, Duration.Inf)
    ()
  }

  /** Deterministic per-subspace codebook: greedy farthest-point
    * seeding (max-min L2) over the residual sample, then 3 Lloyd
    * iterations. Pure driver-side compute on the bounded sample.
    */
  private def trainSubspaceCodebook(
      sub: Array[Array[Float]], pqK: Int): Array[Array[Float]] = {
    require(sub.nonEmpty, "empty residual sample")
    val k = math.min(pqK, sub.length)
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
      d
    }
    val seeds = scala.collection.mutable.ArrayBuffer(sub.head)
    while (seeds.size < k)
      seeds += sub.maxBy(v => seeds.map(l2(v, _)).min)
    var centers = seeds.toArray.map(_.clone())
    (1 to 3).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](sub.head.length))
      val counts = new Array[Int](k)
      sub.foreach { v =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          val d = l2(v, centers(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      centers = Array.tabulate(k) { c =>
        if (counts(c) == 0) centers(c)
        else Array.tabulate(sub.head.length)(i =>
          (sums(c)(i) / counts(c)).toFloat)
      }
    }
    centers
  }

  /** Probe a PQ-compressed IVF index ([[buildIvfIndex]] with
    * `pq = true`): rank by ASYMMETRIC DISTANCE COMPUTATION over the
    * compressed codes, then re-rank the top `rerank` candidates per
    * query against the full vectors.
    *
    * ADC here is exact-cosine-against-the-reconstruction: per task,
    * each query precomputes `table(m)(k) = dot(q_sub(m), cb(m)(k))`
    * (pqM·pqK dots) and `dot(q, centroid)` per probed cell, so one
    * candidate scores in pqM table lookups + one divide by the stored
    * reconstruction norm — no float vector is read. The ranking scan
    * touches ONLY `pq_codes` of the probed cells (partition-pruned),
    * and the full `assignments` vectors are read only for the
    * re-rank join's probed partitions. Queries ride a broadcast-sized
    * driver collect, same contract as [[bruteForceTopK]].
    */
  def ivfPqTopK(
      queries: DataFrame, indexPath: String, k: Int, nprobe: Int = 4,
      rerank: Int = 20, qidCol: String = "qid",
      vecCol: String = "vec"): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents: Array[(Long, Array[Float])] = graft.lake.LakeTable
      .forPath(spark, s"$indexPath/centroids").toDF
      .select(col("cell"), col("centroid"))
      .as[(Long, Seq[Float])].collect()
      .map { case (c, v) => (c, v.toArray) }
    val codebooks: Array[Array[Array[Float]]] = {
      val rows = graft.lake.LakeTable
        .forPath(spark, s"$indexPath/pq_codebooks").toDF
        .select(col("m"), col("code"), col("center"))
        .as[(Int, Int, Seq[Float])].collect()
      val byM = rows.groupBy(_._1)
      Array.tabulate(byM.size)(m =>
        byM(m).sortBy(_._2).map(_._3.toArray))
    }
    def dot(a: Array[Float], b: Array[Float], s: Int): Double = {
      var d = 0.0; var i = 0
      while (i < b.length) { d += a(s + i) * b(i); i += 1 }
      d
    }
    // driver-side probe selection from the collected centroids: the
    // query set is broadcast-sized by contract, the centroid table is
    // nlist rows — no corpus data touches the driver
    val qRows: Array[(Long, Array[Float])] = queries
      .select(col(qidCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].collect()
      .map { case (q, v) => (q, v.toArray) }
    def cosArr(a: Array[Float], b: Array[Float]): Double = {
      var dd = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        dd += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dd / math.sqrt(na * nb)
    }
    val probesByQ: Array[(Long, Array[Float], Array[Long])] =
      qRows.map { case (qid, qv) =>
        val top = cents.map { case (c, cv) => (c, cosArr(qv, cv)) }
          .sortBy { case (c, s) => (-s, c) }.take(nprobe).map(_._1)
        (qid, qv, top)
      }
    val probedCells = probesByQ.flatMap(_._3).distinct.sorted
    val qB = spark.sparkContext.broadcast(probesByQ)
    val centB = spark.sparkContext.broadcast(cents.toMap)
    val cbB = spark.sparkContext.broadcast(codebooks)
    val approx = graft.lake.LakeTable
      .forPath(spark, s"$indexPath/pq_codes").toDF
      .filter(col("cell").isin(probedCells.toSeq: _*))
      .select(col("id"), col("codes"), col("norm_hat"), col("cell"))
      .as[(Long, Seq[Int], Float, Long)]
      .mapPartitions { it =>
        val cbs = cbB.value
        val cellCent = centB.value
        // per-task ADC init: lookup tables + per-probed-cell query dots
        val entries = qB.value.map { case (qid, qv, cells) =>
          var nq = 0.0; var i = 0
          while (i < qv.length) { nq += qv(i) * qv(i); i += 1 }
          val d = qv.length
          val tables = Array.tabulate(cbs.length)(m => {
            val s = m * d / cbs.length
            cbs(m).map(center => dot(qv, center, s))
          })
          val centDots = cells.map(c =>
            c -> dot(qv, cellCent(c), 0)).toMap
          (qid, math.sqrt(nq), tables, centDots)
        }
        val byCell = entries.flatMap(e =>
          e._4.keys.map(_ -> e)).groupBy(_._1)
          .map { case (c, xs) => c -> xs.map(_._2) }
        it.flatMap { case (id, codes, normHat, cell) =>
          byCell.getOrElse(cell, Array.empty).iterator.collect {
            case (qid, nq, tables, centDots) if qid != id =>
              var s = centDots(cell); var m = 0
              while (m < tables.length) {
                s += tables(m)(codes(m)); m += 1
              }
              val denom = nq * normHat
              (qid, id, if (denom == 0.0) 0.0 else s / denom)
          }
        }
      }.toDF("__qid", "id", "approx")
    val aw = Window.partitionBy("__qid")
      .orderBy(col("approx").desc, col("id").asc)
    val candidates = approx
      .withColumn("__arank", row_number().over(aw))
      .filter(col("__arank") <= rerank)
      .select(col("__qid"), col("id"))
    // exact re-rank: full vectors of the candidates only, read from
    // the probed cells' assignment partitions
    val vecs = graft.lake.LakeTable
      .forPath(spark, s"$indexPath/assignments").toDF
      .filter(col("cell").isin(probedCells.toSeq: _*))
      .select(col("id"), col("vec"))
    val qDf = broadcast(
      qRows.toSeq.map { case (q, v) => (q, v.toSeq) }
        .toDF("__qid", "__qv")
        .select(col("__qid"), col("__qv").cast("array<float>")))
    val w = Window.partitionBy("__qid")
      .orderBy(col("cos").desc, col("id").asc)
    candidates.join(vecs, "id").join(qDf, "__qid")
      .withColumn("cos", round(cosine(col("__qv"), col("vec")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as("qid"), col("rank"),
        col("id").as("neighbor_id"), col("cos"))
  }

  /** Probe a [[buildIvfIndex]] index: per query, rank the centroids,
    * take the top `nprobe` cells, scan ONLY those cells' partitions
    * (static `isin` pruning — the probed-cell set is ≤ nlist, driver
    * metadata-sized regardless of query count) and score candidates.
    */
  def ivfIndexTopK(
      queries: DataFrame, indexPath: String, k: Int, nprobe: Int = 4,
      qidCol: String = "qid", vecCol: String = "vec",
      filter: String = null): DataFrame = {
    val spark = queries.sparkSession
    val centroids = broadcast(
      graft.lake.LakeTable.forPath(spark, s"$indexPath/centroids").toDF
        .select(col("cell").as("__cid"), col("centroid").as("__cent")))
    val qw = Window.partitionBy("__qid").orderBy(
      col("__qsim").desc, col("__cid").asc)
    val probes = broadcast(
      queries.select(col(qidCol).as("__qid"), col(vecCol).as("__qv"))
        .crossJoin(centroids)
        .withColumn("__qsim", cosine(col("__qv"), col("__cent")))
        .withColumn("__prank", row_number().over(qw))
        .filter(col("__prank") <= nprobe)
        .select(col("__qid"), col("__qv"), col("__cid")))
    val probedCells = probes.select(col("__cid")).distinct()
      .collect().map(_.getLong(0)).sorted
    val unfiltered = graft.lake.LakeTable
      .forPath(spark, s"$indexPath/assignments").toDF
      .filter(col("cell").isin(probedCells.toSeq: _*))
    // filtered search: the predicate (over id/cell/any carryCols the
    // build stored) lands IN the probed-cell scan — codegen'd, pushed
    // to parquet, no corpus join. Recall is per-probe: a highly
    // selective predicate thins each probed cell, so callers raise
    // nprobe rather than k when filtering hard.
    val candidates =
      if (filter == null) unfiltered else unfiltered.filter(filter)
    val w = Window.partitionBy("__qid")
      .orderBy(col("cos").desc, col("id").asc)
    candidates.join(probes, candidates("cell") === probes("__cid"))
      .filter(col("__qid") =!= col("id"))
      .withColumn("cos", round(cosine(col("__qv"), col("vec")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as("qid"), col("rank"),
        col("id").as("neighbor_id"), col("cos"))
  }

  /** Sampled, deterministic k-means centroids for [[ivfTopK]]'s
    * `refineIterations` option. First-n-by-id centroids are fine for
    * near-random embeddings, but on CLUSTERED real-world data they can
    * all land inside one cluster: cell assignment then rides on noise
    * dot-products, a perturbed query probes different cells than its
    * source, and recall collapses. This path fixes that without RNG
    * (same corpus → same centroids, re-runnable and oracle-friendly):
    *
    *  1. sample ~8·nlist candidates by xxhash64(id) order — the
    *     deterministic stand-in for k-means||'s random oversampling;
    *  2. greedy farthest-point seeding over the candidates (driver
    *     side: the sample is metadata-sized) — one seed per real
    *     cluster with high probability;
    *  3. `iters` distributed Lloyd steps: broadcast-assign (one corpus
    *     pass, max_by argmax), per-dimension mean via posexplode +
    *     partial-aggregating groupBy. Empty cells keep their previous
    *     centroid. Per step: one corpus scan + a shuffle of
    *     nlist × dims rows — nothing driver-sized but the centroids.
    */
  private[graft] def kmeansCentroids(
      c: DataFrame, nlist: Int, iters: Int): DataFrame =
    if (nlist <= sampledNlistMax(c.sparkSession))
      kmeansCentroidsSampled(c, nlist, iters)
    else kmeansCentroidsScalable(c, nlist, iters)

  /** Ceiling for the driver-sampled seeding path. Above it the
    * k-means|| path takes over: the sampled path's greedy
    * farthest-point seeding is O(nlist · sample · dims) DRIVER compute
    * over an 8·nlist driver-resident sample — fine at gate nlist,
    * weeks of single-core work at the 10⁵–10⁶ cells a 100 TB corpus
    * wants. Conf-overridable so suites can force either path.
    */
  private def sampledNlistMax(
      spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.kmeansSampledNlistMax")
      .map(_.toInt).getOrElse(1024)

  private[graft] def kmeansCentroidsSampled(
      c: DataFrame, nlist: Int, iters: Int): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val sample = c.withColumn("__h", xxhash64(col("__id")))
      .orderBy("__h").limit(math.max(8 * nlist, 64))
      .select("__cv").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "kmeansCentroids: empty corpus")
    def cosv(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val chosen = scala.collection.mutable.ArrayBuffer(sample.head)
    while (chosen.size < nlist && chosen.size < sample.length) {
      chosen += sample.minBy(v => chosen.map(cosv(v, _)).max)
    }
    var cents: Seq[(Long, Seq[Double])] =
      chosen.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
    (1 to iters).foreach { _ =>
      val cdf = broadcast(cents.toDF("__cid", "__cent")
        .withColumn("__centf",
          transform(col("__cent"), x => x.cast("float"))))
      val updated = c.crossJoin(cdf)
        .withColumn("__sim", cosine(col("__cv"), col("__centf")))
        .groupBy("__id")
        .agg(max_by(col("__cid"), col("__sim")).as("__cid"),
          first(col("__cv")).as("__cv"))
        .select(col("__cid"), posexplode(col("__cv")))
        .toDF("__cid", "__pos", "__x")
        .groupBy("__cid", "__pos").agg(avg("__x").as("__m"))
        .groupBy("__cid")
        .agg(transform(
          array_sort(collect_list(struct(col("__pos"), col("__m")))),
          s => s.getField("__m")).as("__cent"))
        .as[(Long, Seq[Double])].collect().toMap
      cents = cents.map { case (cid, old) =>
        (cid, updated.getOrElse(cid, old))
      }
    }
    cents.toDF("__cid", "__cent")
      .select(col("__cid"),
        transform(col("__cent"), x => x.cast("float")).as("__cent"))
  }

  /** Distributed k-means|| centroids (Bahmani, Moseley, Vattani,
    * Kumar, Vassilvitskii, "Scalable K-Means++", VLDB 2012) — the
    * scale path behind [[kmeansCentroids]] for nlist beyond
    * [[sampledNlistMax]]. Every corpus-sized pass is a Spark job; the
    * only driver/broadcast state is O(pool) ≈ 4·nlist vectors — the
    * same order as the centroid table every caller materializes and
    * broadcasts anyway — and no step runs O(pool²) anywhere:
    *
    *  1. seed with the min-xxhash corpus row;
    *  2. `rounds` oversampling passes: each point joins the pool
    *     independently with probability ℓ·d²(x)/φ, where d²(x) =
    *     1 − bestCos(x, pool), φ = Σ d²(x) from a distributed agg,
    *     and ℓ = 4·nlist/rounds. The "coin" is xxhash64(id, round)
    *     mapped to [0,1) — deterministic, re-runnable, no RNG (same
    *     reasoning as the sampled path's md5/xxhash selectors).
    *     Per-point best-so-far updates fold in ONLY the round's new
    *     candidates via a single-row collect_list broadcast, so no
    *     shuffle ever carries a vector;
    *  3. candidates are weighted by exact nearest-assignment counts —
    *     one corpus pass against the broadcast pool, only (pid)
    *     scalars shuffle;
    *  4. weighted Lloyd over the POOL (not the corpus) re-clusters to
    *     nlist centers, seeded by BATCHED greedy farthest-point over
    *     the pool (≤16 distributed sort+limit rounds — sequential
    *     greedy at gate nlist, so seeding quality matches the sampled
    *     path; batches of remaining/16 at scale, where the pool's own
    *     d² spread keeps within-batch redundancy low): posexplode +
    *     partial-aggregating groupBy for the weighted means, empty
    *     cells keep their previous center — the same update shape as
    *     the sampled path's distributed Lloyd step.
    *
    * The corpus (id, vec, bestCos) state is eagerly localCheckpointed
    * across rounds (lineage doubles per round otherwise — the
    * standard iterative-training trade; Spark MLlib's k-means
    * checkpoints the same state); rounds is small and each round is
    * one narrow pass. The returned frame is collected — nlist ×
    * dims, metadata-sized by the engine's documented centroid
    * contract — so callers broadcast a local relation instead of
    * dragging the training lineage behind every probe.
    */
  private[graft] def kmeansCentroidsScalable(
      c: DataFrame, nlist: Int, iters: Int, rounds: Int = 4): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel

    val corpus = c.select(col("__id"), col("__cv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seed0 = corpus.withColumn("__h", xxhash64(col("__id")))
      .orderBy(col("__h"), col("__id")).limit(1)
      .select(col("__id"), col("__cv"))
    require(!seed0.isEmpty, "kmeansCentroids: empty corpus")
    val ell = math.max(4.0 * nlist / rounds, 1.0)

    // max cosine of __cv against a broadcast ARRAY<ARRAY<FLOAT>> of
    // candidate vectors — evaluated per row inside the higher-order
    // lambda (interpreted, but over ≤ ℓ candidates per round)
    def maxCosOver(cands: Column, vec: Column): Column =
      aggregate(transform(cands, v => cosine(vec, v)),
        lit(-1.0), (acc, s) => greatest(acc, s))

    // Iterative loops below truncate lineage with eager
    // localCheckpoint: each round's state references the previous
    // round's TWICE (directly and through the new-candidate
    // broadcast), so raw lineage doubles per round and the logical
    // plan alone would OOM the driver — the standard iterative-ML
    // shape (MLlib checkpoints its k-means state the same way).
    var state = corpus.crossJoin(
        broadcast(seed0.agg(collect_list(col("__cv")).as("__cands"))))
      .withColumn("__best", maxCosOver(col("__cands"), col("__cv")))
      .select(col("__id"), col("__cv"), col("__best"))
      .localCheckpoint(true)
    var pool = seed0
    var r = 1
    var covered = false
    while (r <= rounds && !covered) {
      val phi = state.agg(sum(lit(1.0) - col("__best")))
        .as[Double].first()
      if (phi <= 1e-12) covered = true // pool already covers every point
      else {
        val u = pmod(xxhash64(col("__id"), lit(r)), lit(1L << 20))
          .cast("double") / (1L << 20).toDouble
        val p = least(lit(1.0),
          lit(ell) * (lit(1.0) - col("__best")) / lit(phi))
        val newC = state.filter(u < p).select(col("__id"), col("__cv"))
          .localCheckpoint(true)
        if (!newC.isEmpty) {
          pool = pool.union(newC)
          state = state.crossJoin(
              broadcast(newC.agg(collect_list(col("__cv")).as("__cands"))))
            .withColumn("__best", greatest(col("__best"),
              maxCosOver(col("__cands"), col("__cv"))))
            .select(col("__id"), col("__cv"), col("__best"))
            .localCheckpoint(true)
        }
        r += 1
      }
    }

    // top up a sparse pool (tiny/degenerate corpora) from the hash
    // order so the re-cluster can still seed nlist centers
    val poolCount = pool.count()
    val pooled = (
      if (poolCount >= nlist) pool
      else pool.union(
        corpus.join(pool.select(col("__id")), Seq("__id"), "left_anti")
          .withColumn("__h", xxhash64(col("__id")))
          .orderBy(col("__h"), col("__id"))
          .limit((nlist - poolCount).toInt)
          .select(col("__id"), col("__cv")))
      ).localCheckpoint(true)

    // exact nearest-candidate weights: argmax via array_max over
    // (cos, -pid) structs — ties break to the smaller pid — so the
    // corpus pass shuffles only (pid) scalars after partial agg
    val poolArr = broadcast(pooled.agg(collect_list(
      struct(col("__id").as("__pid"), col("__cv").as("__pv")))
      .as("__pool")))
    val weights = corpus.crossJoin(poolArr)
      .select(array_max(transform(col("__pool"), cand =>
        struct(cosine(col("__cv"), cand.getField("__pv")).as("__s"),
          (-cand.getField("__pid")).as("__negpid")))).as("__pick"))
      .select((-col("__pick.__negpid")).as("__pid"))
      .groupBy("__pid").agg(count(lit(1)).as("__w"))

    val allPool = pooled
      .join(weights, pooled("__id") === weights("__pid"), "left")
      .select(col("__id").as("__sid"), col("__cv").as("__sv"),
        coalesce(col("__w"), lit(0L)).as("__sw"))
      .localCheckpoint(true)

    // seeds: greedy farthest-point over the POOL, batched into at most
    // 16 distributed rounds (top-remaining/rounds per round by lowest
    // best-cosine, ties to the smaller id). At gate nlist the batch is
    // 1 — exactly the sampled path's sequential greedy, so one seed
    // per real cluster with the same high probability — while at
    // 10⁵-cell nlist it is 16 sort+limit jobs over the (already
    // d²-spread) pool instead of an O(pool · nlist) driver loop.
    // Weight only picks the FIRST seed (the heaviest candidate);
    // coverage, not mass, is what seeding must buy — Lloyd reweights.
    val firstSeed = allPool.orderBy(col("__sw").desc, col("__sid").asc)
      .limit(1).select(col("__sid"), col("__sv"))
    var seeds = firstSeed
    var seedState = allPool.crossJoin(
        broadcast(firstSeed.agg(collect_list(col("__sv")).as("__cands"))))
      .withColumn("__sbest", maxCosOver(col("__cands"), col("__sv")))
      .select(col("__sid"), col("__sv"), col("__sbest"))
      .localCheckpoint(true)
    val seedRounds = math.min(math.max(nlist - 1, 1), 16)
    var picked = 1
    var sr = 0
    while (picked < nlist && sr < seedRounds) {
      val batch = math.min(nlist - picked,
        ((nlist - 1) + seedRounds - 1) / seedRounds)
      val newSeeds = seedState
        .orderBy(col("__sbest").asc, col("__sid").asc).limit(batch)
        .select(col("__sid"), col("__sv"))
        .localCheckpoint(true)
      seeds = seeds.union(newSeeds)
      seedState = seedState.crossJoin(
          broadcast(newSeeds.agg(collect_list(col("__sv")).as("__cands"))))
        .withColumn("__sbest", greatest(col("__sbest"),
          maxCosOver(col("__cands"), col("__sv"))))
        .select(col("__sid"), col("__sv"), col("__sbest"))
        .localCheckpoint(true)
      picked += batch
      sr += 1
    }
    val cidW = Window.orderBy(col("__sid").asc)
    var centers = seeds.dropDuplicates("__sid")
      .orderBy(col("__sid").asc).limit(nlist)
      .withColumn("__cid", row_number().over(cidW).cast("long") - 1)
      .select(col("__cid"),
        transform(col("__sv"), x => x.cast("double")).as("__cent"))
      .localCheckpoint(true)
    val points = allPool.filter(col("__sw") > 0)

    (1 to iters).foreach { _ =>
      val centArr = broadcast(centers.agg(collect_list(struct(
        col("__cid"),
        transform(col("__cent"), x => x.cast("float")).as("__cf")))
        .as("__cs")))
      val updated = points.crossJoin(centArr)
        .withColumn("__pick", array_max(transform(col("__cs"), cc =>
          struct(cosine(col("__sv"), cc.getField("__cf")).as("__s"),
            (-cc.getField("__cid")).as("__negcid")))))
        .select((-col("__pick.__negcid")).as("__cid"), col("__sw"),
          posexplode(col("__sv")))
        .toDF("__cid", "__sw", "__pos", "__x")
        .groupBy(col("__cid"), col("__pos"))
        .agg((sum(col("__x") * col("__sw")) / sum(col("__sw"))).as("__m"))
        .groupBy("__cid")
        .agg(transform(
          array_sort(collect_list(struct(col("__pos"), col("__m")))),
          s => s.getField("__m")).as("__newc"))
      centers = centers.join(updated, Seq("__cid"), "left")
        .select(col("__cid"),
          coalesce(col("__newc"), col("__cent")).as("__cent"))
        .localCheckpoint(true)
    }

    val result = centers
      .select(col("__cid"),
        transform(col("__cent"), x => x.cast("float")).as("__cent"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    corpus.unpersist()
    result.toDF("__cid", "__cent")
  }

  /** Approximate top-k: score only within the query's hyperplane
    * bucket, plus (multi-probe) the `bits` adjacent buckets at Hamming
    * distance 1 — near-boundary neighbors usually differ in exactly one
    * sign, so probing them recovers most of the recall lost to
    * quantization at the cost of bits+1 small probes per query (the
    * corpus is still bucketed once).
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, bits: Int = 6,
      qidCol: String = "qid", idCol: String = "id",
      vecCol: String = "vec", multiProbe: Boolean = true): DataFrame = {
    val base = queries.select(col(qidCol).as("__qid"), col(vecCol).as("__qv"))
      .withColumn("__base", hyperplaneBucket(col("__qv"), bits))
    val probed =
      if (!multiProbe) base.withColumn("__bucket", col("__base"))
      else base.withColumn("__bucket", explode(array(
        col("__base") +: (0 until bits).map(i =>
          col("__base").bitwiseXOR(lit(1L << i))): _*)))
    val q = broadcast(probed.drop("__base"))
    val c = corpus.select(col(idCol).as("__id"), col(vecCol).as("__cv"))
      .withColumn("__bucket", hyperplaneBucket(col("__cv"), bits))
    val scored = c.join(q, "__bucket")
      .filter(col("__qid") =!= col("__id"))
      .withColumn("cos", round(cosine(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy("__qid")
      .orderBy(col("cos").desc, col("__id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as("qid"), col("rank"),
        col("__id").as("neighbor_id"), col("cos"))
  }
}
