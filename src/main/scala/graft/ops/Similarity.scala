package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecOps

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - [[cosine]] / [[dot]] are pure codegen'd expressions (`zip_with`
  *    + `aggregate`), double-accumulated left-to-right so results are
  *    bit-identical to a sequential C loop (and to DuckDB's
  *    `list_cosine_similarity` on DOUBLE[]).
  *  - [[bruteForceTopK]] broadcasts the (small) query set against the
  *    corpus: one scan, no shuffle of the corpus, per-partition
  *    partial top-k via window. The right baseline plan at any scale
  *    where |queries| << |corpus|.
  *  - [[lshTopK]] is the approximate scale path: random-hyperplane
  *    signatures bucket the corpus once (shuffle keyed on bucket);
  *    queries probe only their own bucket. Recall is tunable with
  *    `planes` (fewer planes = bigger buckets = higher recall).
  *  - [[ivfTopK]] is the IVF variant: k-means-lite centroids chosen as
  *    a deterministic sample, corpus assigned to nearest centroid
  *    (broadcast centroids), queries probe `nprobe` nearest lists. It
  *    is [[buildIvfIndex]] followed by [[ivfTopKIndexed]], the one
  *    search over an [[IvfIndex]] — whose lists hold either vectors or
  *    residual PQ codes ([[buildIvfPqIndex]]).
  */
object Similarity {

  /** Cast to double FIRST so float*float doesn't round at float
    * precision — matches DuckDB's DOUBLE[] math exactly. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    VecOps.vecDot(asDouble(a), asDouble(b))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The ONE ranking site for every search path: top-k rows per
    * query_id under (sim desc, neighbor_id asc), with `rank` = 1-based
    * position — exactly `row_number().over(partitionBy(query_id)
    * .orderBy(sim.desc, id.asc)).filter(_ <= k)`, which is also what
    * every DuckDB oracle replays.
    *
    * For the (double sim, long id) shape every contract query uses,
    * ranking runs as the [[graft.functions.TopKPairs]] bounded-heap
    * aggregate: the window form fully SORTS each scan task's entire
    * pair stream before its partial WindowGroupLimit can drop
    * anything (O(N log N) on |corpus|×|queries| pairs), while the
    * heap pays one comparison against the running k-th best per pair
    * and only (|queries| × k)-sized buffers ride the exchange. Other
    * id types keep the window form (generic, rarely hot). */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    val aggPath = scored.schema("sim").dataType == DoubleType &&
      scored.schema("neighbor_id").dataType == LongType
    if (aggPath) {
      scored.groupBy(col("query_id"))
        .agg(graft.functions.TopKPairs.of(col("sim"), col("neighbor_id"), k)
          .as("__topk"))
        .select(col("query_id"), posexplode(col("__topk")).as(Seq("__pos", "__e")))
        .select(col("query_id"),
          col("__e").getField("neighbor_id").as("neighbor_id"),
          col("__e").getField("sim").as("sim"),
          (col("__pos") + lit(1)).cast(IntegerType).as("rank"))
    } else {
      val w = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    }
  }

  /** Exact top-k cosine neighbors for each query vector.
    * `queries`: (qidCol, vecCol); `corpus`: (idCol, vecCol).
    * The query side is broadcast — the corpus is scanned once and
    * never shuffled; only the (|queries| × k)-sized ranked result
    * shuffles for the window. Self-matches (same id) are excluded
    * when both frames share the id space and `excludeSelf`. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      qidCol: String, idCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    // cast + norm hoisted per ROW; the per-PAIR work is one native
    // vec_dot and a divide — same arithmetic as cosine(), bit-exact
    val q = queries.select(col(qidCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
      .withColumn("__qn", sqrt(VecOps.vecDot(col("__qv"), col("__qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("__cv"))
      .withColumn("__cn", sqrt(VecOps.vecDot(col("__cv"), col("__cv"))))
    val joined = c.join(broadcast(q),
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
    val scored = joined.select(
      col("query_id"), col("neighbor_id"),
      (VecOps.vecDot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))).as("sim"))
    rankTopK(scored, k)
  }

  /** Random-hyperplane signature: bit b = sign of dot(vec, plane_b).
    * Planes are deterministic (seeded) so signatures are reproducible
    * across runs and engines.
    *
    * Each plane is ONE `typedLit(Seq[Double])` array literal — a
    * single Catalyst node — not `array(lit, lit, ...)`: the per-element
    * form is O(dim × planes) expression nodes, which at production
    * shapes (1024–4096 dims × 8–32 planes) is tens of thousands of
    * nodes and minutes of analysis/codegen before any data moves. Plan
    * size here is O(planes). */
  def hyperplaneSignature(vec: Column, dim: Int, planes: Int, seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    val planeCols = (0 until planes).map { _ =>
      val plane = typedLit((0 until dim).map(_ => rnd.nextGaussian()))
      when(dot(vec, plane) >= 0, lit(1)).otherwise(lit(0))
    }
    concat_ws("", planeCols: _*)
  }

  /** Approximate top-k: corpus bucketed once by hyperplane signature;
    * each query probes only its bucket. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
      qidCol: String, idCol: String, vecCol: String, k: Int,
      dim: Int, planes: Int = 8, seed: Long = 42L): DataFrame = {
    val sig = hyperplaneSignature(col(vecCol), dim, planes, seed)
    val q = queries.select(col(qidCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"), sig.as("__bucket"))
      .withColumn("__qn", sqrt(VecOps.vecDot(col("__qv"), col("__qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("__cv"), sig.as("__bucket"))
      .withColumn("__cn", sqrt(VecOps.vecDot(col("__cv"), col("__cv"))))
    val joined = c.join(broadcast(q), Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
    rankTopK(joined
      .select(col("query_id"), col("neighbor_id"),
        (VecOps.vecDot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))).as("sim")),
      k)
  }

  /** IVF-style approximate top-k. Centroids = `nlist` corpus vectors
    * picked by hash order (a deterministic pseudo-random spread over
    * the id space, standing in for k-means — the assignment/probe
    * machinery is the scale-relevant part; first-N-by-id would cover
    * one corner of the space when ids are clustered). The hash is md5
    * of the id string so the pick is reproducible in other engines
    * (DuckDB oracle); TakeOrdered keeps it distributed — no global
    * sort materializes. Corpus partitioned into `nlist` inverted
    * lists by nearest centroid; queries probe the `nprobe` nearest
    * lists only. `refineIters` (default 0 = oracle-replayable seeds)
    * runs that many Lloyd iterations to move the seeds to density
    * centers — improves recall on clustered corpora (test-pinned) at
    * one corpus scan + one bounded shuffle per iteration. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      qidCol: String, idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, refineIters: Int = 0): DataFrame =
    ivfTopKIndexed(queries, buildIvfIndex(corpus, idCol, vecCol, nlist, refineIters),
      qidCol, vecCol, k, nprobe)

  /** Rank the broadcast centroids per row and keep the `n` nearest
    * lists — the ONE place the assignment/probe tie-break order
    * (cosine desc, then list_id) lives: the documented bit-identical
    * contract between the inline and indexed paths depends on every
    * ranking site sharing it. */
  private def nearestLists(frame: DataFrame, keyCol: String, vc: String,
      centroids: DataFrame, n: Int): DataFrame = {
    // centroid values ride the PLAN (collected once — the frame is
    // nlist-bounded and was broadcast anyway) and the TopCentroids
    // kernel ranks them per row scan-side. The previous formulation
    // cross-joined rows against the centroids and ranked with a
    // per-key window: corpus x nlist rows, each carrying the full
    // embedding payload, through an exchange + sort — gigabytes of
    // shuffle per million vectors for what is per-row arithmetic.
    // The (cosine desc, then list_id) tie-break is preserved by
    // sorting the collected centroids by list_id: the kernel breaks
    // ties toward the lower index.
    val listIdType = centroids.schema("list_id").dataType
    val collected = centroids.select(col("list_id"), col("__centroid")).collect()
      .map(r => (r.get(0), r.getSeq[Double](1).toArray))
      .sortWith { case ((a, _), (b, _)) => idLt(a, b) }
    if (collected.isEmpty)
      return frame.withColumn("list_id", lit(null).cast(listIdType))
        .filter(lit(false))
    val idsLit = array(collected.map(c => lit(c._1)).toIndexedSeq: _*)
    frame
      .select(col("*"), explode(graft.functions.TopCentroids.of(
        asDouble(col(vc)), collected.map(_._2), n)).as("__ci"))
      .withColumn("list_id",
        element_at(idsLit, col("__ci") + 1).cast(listIdType))
      .drop("__ci")
  }

  /** Driver-side list_id ordering matching Spark's own (numeric, or
    * binary UTF8 for strings) — the tie-break order [[nearestLists]]
    * feeds the kernel. */
  private def idLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Int, y: Int)   => x < y
    case (x: String, y: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
    case (x: Comparable[_], _) => x.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    case _ => throw new IllegalArgumentException(
      s"unorderable list_id type ${a.getClass.getName}")
  }

  /** Centroid selection shared by [[ivfTopK]] and [[buildIvfIndex]]:
    * `nlist` hash-sampled seed vectors, optionally Lloyd-refined. */
  private def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, refineIters: Int): DataFrame = {
    val seeded = corpus
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .limit(nlist)
      .select(col(idCol).as("list_id"), asDouble(col(vecCol)).as("__centroid"))
    // Optional Lloyd refinement (refineIters > 0): assign every corpus
    // vector to its nearest centroid (broadcast), replace each centroid
    // with the element-wise mean of its cluster, keep the seed vector
    // for an emptied cluster. 2-3 iterations move hash-sampled seeds to
    // genuine density centers — a recall fix, not a scale change — and
    // localCheckpoint truncates the growing lineage so the final
    // centroid frame stays a small broadcastable relation.
    val centroids = (0 until refineIters).foldLeft(seeded) { (cents, _) =>
      // scan-side argmax via the TopCentroids kernel (the shared
      // nearestLists path): no corpus x nlist explosion, no exchange
      // for the assignment — only the means aggregation shuffles, and
      // it map-side combines down to nlist x dim rows. This also
      // unifies the refinement's tie-break with the documented
      // assignment/probe order (cosine desc, then SMALLER list_id —
      // the previous max(struct) picked the larger on exact ties,
      // which only differed for duplicate seed vectors).
      val best = nearestLists(
        corpus.select(col(idCol).as("__aid"), asDouble(col(vecCol)).as("__av")),
        "__aid", "__av", cents, 1)
      val means = best
        .select(col("list_id"), posexplode(col("__av")).as(Seq("__pos", "__val")))
        .groupBy("list_id", "__pos").agg(avg("__val").as("__m"))
        .groupBy("list_id")
        .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__m")))),
          s => s.getField("__m")).as("__cnew"))
      cents.join(means, Seq("list_id"), "left")
        .select(col("list_id"),
          coalesce(col("__cnew"), col("__centroid")).as("__centroid"))
        .localCheckpoint(true)
    }
    centroids
  }

  /** An IVF index: broadcastable centroids + the corpus partitioned
    * into inverted lists. Build ONCE over the corpus, save, query many
    * times — re-clustering 100 TB of embeddings per query batch is the
    * scale anti-pattern the inline [[ivfTopK]] commits. What a list row
    * stores is the index's one encoding choice: with `pq` empty,
    * `lists` holds (list_id, neighbor_id, vec) — the original vectors,
    * probed with exact cosines; with `pq` set ([[buildIvfPqIndex]]), it
    * holds (list_id, neighbor_id, pq_code) — residual PQ codes, probed
    * with ADC. Everything after the build (save, load, append, compact,
    * search) is one implementation over both encodings. On disk the
    * lists are `partitionBy(list_id)` parquet (`lists.parquet`, or
    * `codes.parquet` beside `codebooks.parquet`), so a probe of `nprobe`
    * lists reads ONLY those directories: the probe joins the
    * (broadcast) query-to-list frame against the partition column and
    * Spark's dynamic partition pruning skips every unprobed list at
    * scan time. */
  final case class IvfIndex(centroids: DataFrame, lists: DataFrame,
      pq: Option[PqModel] = None)

  /** Cluster the corpus into `nlist` inverted lists (same centroid
    * selection as [[ivfTopK]]: hash-sampled seeds, optional Lloyd
    * refinement). The returned lists keep the ORIGINAL vector values
    * (storage stays float-sized; math casts to double at query time,
    * so indexed results are bit-identical to the inline path). */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, refineIters: Int = 0): IvfIndex = {
    val centroids = ivfCentroids(corpus, idCol, vecCol, nlist, refineIters)
    IvfIndex(centroids, assignLists(corpus, idCol, vecCol, centroids))
  }

  /** The list directory of an index: `codes.parquet` when its lists
    * hold PQ codes, `lists.parquet` when they hold vectors. */
  private def listsDir(pq: Boolean): String =
    if (pq) "codes.parquet" else "lists.parquet"

  /** Persist an index: centroids (and, for PQ codes, the codebooks) as
    * small parquets, lists partitioned by list_id (the physical layout
    * that makes probe-time partition pruning possible). */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    index.centroids
      .select(col("list_id"), col("__centroid").as("centroid"))
      .write.mode("overwrite").parquet(s"$path/centroids.parquet")
    index.pq.foreach { pq =>
      val spark = index.lists.sparkSession
      import spark.implicits._
      (for {
        j <- 0 until pq.m
        i <- pq.codebooks(j).indices
      } yield (j, i, pq.codebooks(j)(i).toSeq))
        .toDF("j", "i", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks.parquet")
    }
    // cluster by list BEFORE the partitioned write — the same
    // file-count arithmetic appendIvfIndex documents (every write
    // task otherwise holds open files for every list it touches:
    // tasks × nlist small files per FULL build, ~2048 at 32 tasks ×
    // 64 lists; one bounded exchange buys ~one file per list). The
    // probe-time pruned read and the bit-identical-to-inline value
    // contract only see rows, never file boundaries.
    index.lists.repartition(col("list_id")).write.mode("overwrite")
      .partitionBy("list_id").parquet(s"$path/${listsDir(index.pq.isDefined)}")
  }

  /** Load a persisted index; the layout on disk says which encoding it
    * holds (`codes.parquet` = PQ codes). The probe goes through the
    * Hadoop FileSystem of the path's scheme — `java.nio.file` only
    * speaks the local filesystem and would misread every `hdfs://`
    * index as holding vectors. The codebooks (m·codebookSize rows)
    * collect to the driver — they are literals in every query plan
    * anyway. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val centroids = spark.read.parquet(s"$path/centroids.parquet")
      .select(col("list_id"), col("centroid").as("__centroid"))
    val codes = new org.apache.hadoop.fs.Path(path, listsDir(pq = true))
    val pq =
      if (!codes.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(codes)) None
      else {
        val cb = spark.read.parquet(s"$path/codebooks.parquet")
          .select("j", "i", "centroid").collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        require(cb.nonEmpty, s"empty codebooks at $path/codebooks.parquet")
        val m = cb.map(_._1).max + 1
        val codebooks = Array.tabulate(m)(j =>
          cb.filter(_._1 == j).sortBy(_._2).map(_._3))
        Some(PqModel(m, codebooks.head.head.length, codebooks))
      }
    // pin the partition column's type to the centroids' list_id type
    // instead of letting directory-name inference guess it: with
    // string ids, inference would parse "list_id=01" and "list_id=1"
    // both as integer 1 and merge two distinct lists (breaking the
    // bit-identical-to-inline contract). A user-supplied schema keeps
    // the raw directory value at the saved type — and list_id stays
    // the partition column, so probe-time pruning is unaffected.
    val listsPath = s"$path/${listsDir(pq.isDefined)}"
    // schema via the stat-keyed cache: repeat opens of an unchanged
    // index skip the distributed footer-read job (an append changes
    // the stats, which correctly invalidates the entry)
    val dataFields = graft.sources.SchemaCache.parquet(spark, listsPath).schema.fields
      .filter(_.name != "list_id")
    val pinned = org.apache.spark.sql.types.StructType(
      dataFields :+ org.apache.spark.sql.types.StructField(
        "list_id", centroids.schema("list_id").dataType))
    // list_id first (the scan appends the partition column last), so a
    // loaded index's probe plan keeps its established column order
    IvfIndex(centroids, spark.read.schema(pinned).parquet(listsPath)
      .select(col("list_id") +: dataFields.map(f => col(f.name)).toIndexedSeq: _*), pq)
  }

  /** Append a new vector batch to an existing [[IvfIndex]] WITHOUT
    * re-clustering: the batch is assigned to the index's FIXED
    * centroids (the same scan-side TopCentroids ranking, same
    * tie-break, as the original build) and, for a PQ index, encoded
    * with its FIXED codebooks, so the appended index is bit-identical
    * to a full rebuild of base+batch at that model — recurring corpus
    * drops pay one batch-sized scan instead of re-clustering the whole
    * history (the store pattern incremental dedup uses, applied to
    * ANN). Centroids and codebooks drift from the data as appends
    * accumulate (recall decays, correctness doesn't — probes still
    * rank the true centroids); rebuild when list sizes skew. The
    * batch's `vecCol` must carry the same element type as the index's
    * vectors. */
  def appendToIvfIndex(index: IvfIndex, batch: DataFrame, idCol: String,
      vecCol: String): IvfIndex =
    index.copy(lists = index.lists.unionByName(
      encodeBatch(batch, idCol, vecCol, index.centroids, index.pq)))

  /** Append a batch to a PERSISTED index in place: encode it against
    * the saved centroids (and codebooks) and `append`-write the new
    * rows under the same `partitionBy(list_id)` layout — probe-time
    * partition pruning and the pinned-type reload both keep working;
    * only the probed lists' new files are read. Returns the reloaded
    * index. NOT concurrency-safe: one writer per index path (same
    * contract as the dedup signature stores). Each append adds one
    * file set per touched list partition — after many small drops,
    * [[compactIndex]] or rebuild; the read path stays correct
    * regardless, file COUNT is the only cost. */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): IvfIndex = {
    val idx = loadIvfIndex(spark, path)
    // cluster the encoded batch by list BEFORE the partitioned write:
    // without it every write task holds open files for every list it
    // touches (tasks x nlist small files per append — measured 2x the
    // whole append cost in commit overhead at 100K x 64 lists); one
    // batch-sized exchange buys one file per touched list per append
    encodeBatch(batch, idCol, vecCol, idx.centroids, idx.pq)
      .repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id")
      .parquet(s"$path/${listsDir(idx.pq.isDefined)}")
    loadIvfIndex(spark, path)
  }

  /** The one batch encoder behind both appends: each row assigned to
    * its nearest fixed centroid, then — when `pq` is set — reduced to
    * its residual PQ code. Rows come out in the index's list shape. */
  private def encodeBatch(batch: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, pq: Option[PqModel]): DataFrame =
    pq.fold(assignLists(batch, idCol, vecCol, centroids))(model =>
      residualCodes(residualFrame(batch, idCol, vecCol, centroids), model))

  /** The shared build/append assignment: one inverted-list row per
    * input vector, nearest (cosine desc, then list_id) fixed centroid. */
  private def assignLists(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    nearestLists(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
      "neighbor_id", "__cv", centroids, 1)
      .withColumnRenamed("__cv", "vec")

  /** Approximate top-k against an [[IvfIndex]] without touching the
    * corpus: queries rank the broadcast centroids, probe `nprobe`
    * lists, and (for a loaded index) scan only those list partitions.
    * A vector index scores exact cosines — bit-identical to
    * [[ivfTopK]] at the same parameters; a PQ index scores ADC inner
    * products. A query never matches its own id. Returns (query_id,
    * neighbor_id, sim, rank). */
  def ivfTopKIndexed(queries: DataFrame, index: IvfIndex,
      qidCol: String, vecCol: String, k: Int, nprobe: Int = 4): DataFrame =
    ivfSearch(queries, index, qidCol, vecCol, k, nprobe, lutSplitBytes = 16L * 1024)

  /** [[ivfTopKIndexed]]'s body. `lutSplitBytes` places the PQ lookup
    * table (see below); it is a parameter only so tests can force
    * either plan shape. */
  private[graft] def ivfSearch(queries: DataFrame, index: IvfIndex,
      qidCol: String, vecCol: String, k: Int, nprobe: Int,
      lutSplitBytes: Long): DataFrame = {
    val qbase = queries
      .select(col(qidCol).as("query_id"), col(vecCol).as("__qv"))
    index.pq match {
      case None =>
        val q = nearestLists(qbase, "query_id", "__qv", index.centroids, nprobe)
        rankTopK(index.lists.withColumnRenamed("vec", "__cv")
          .join(broadcast(q), Seq("list_id"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            cosine(col("__qv"), col("__cv")).as("sim"))
          .distinct(),
          k)
      case Some(model) =>
        // ADC: ONE m·codebookSize lookup table per query row plus one
        // dot(q, c_list) constant per probed list; the probed lists'
        // codes score as m `element_at`s each, sim ≈ dot(q, x).
        val qv = asDouble(col("__qv"))
        // Where does the per-query LUT (m·codebookSize doubles) ride?
        // Inlined in the probe frame it is duplicated nprobe times per
        // query — at production shapes (m=16, K=256, nprobe=32: ~1 MB
        // per query) that walks large query batches straight into the
        // broadcast/driver limits. In its OWN one-row-per-query
        // broadcast the duplication is gone, but every scanned
        // candidate row pays a SECOND broadcast hash join (measured
        // ~1.4x on the 1M-row bench search, where the whole duplicated
        // LUT is 4 KB/query). All three inputs to the trade are
        // plan-time constants, so pick per plan: inline while the
        // duplicated table stays small, split past `lutSplitBytes`
        // (16 KB) per query.
        val inlineLut =
          nprobe.toLong * model.m * model.codebookSize * 8L <= lutSplitBytes
        val lutOf = pqLut(model, qv)
        val probed0 = nearestLists(
            if (inlineLut) qbase.withColumn("__lut", lutOf) else qbase,
            "query_id", "__qv", index.centroids, nprobe)
          .join(broadcast(index.centroids), Seq("list_id"))
          .withColumn("__qc", VecOps.vecDot(qv, col("__centroid")))
        val probed =
          if (inlineLut)
            probed0.select(col("list_id"), col("query_id"), col("__lut"), col("__qc"))
          else probed0.select(col("list_id"), col("query_id"), col("__qc"))
        val candidates0 = index.lists.join(broadcast(probed), Seq("list_id"))
        val candidates =
          if (inlineLut) candidates0
          else candidates0.join(
            broadcast(qbase.select(col("query_id"), lutOf.as("__lut"))),
            Seq("query_id"))
        candidates
          .filter(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            (col("__qc") + pqAdc(model)).as("sim"))
          .transform(rankTopK(_, k))
    }
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = max(|x|)/127, elements round to [-127, 127]. Cuts
    * embedding storage 4x (float32 -> int8 + one float scale) — at
    * 100 TB of vectors that is the difference between fitting the ANN
    * working set in cluster memory or not. Returns a struct
    * (scale: double, q: array<tinyint>). */
  /** Bind a per-vector scalar ONCE for use inside a transform lambda.
    * Referencing the scalar's expression directly in the lambda body
    * re-evaluates the whole O(d) reduction PER ELEMENT (no CSE inside
    * lambda bodies — the same blowup Shingles.scala documents),
    * turning an O(d) map into O(d²). Wrapping (scalar, vector) in a
    * one-element array and transforming over it evaluates the scalar
    * once; the lambda then reads it as a cheap field access. */
  private def withScalar(scalar: Column, dv: Column)(
      body: (Column, Column) => Column): Column =
    element_at(
      transform(array(struct(scalar.as("s"), dv.as("v"))),
        e => body(e.getField("s"), e.getField("v"))),
      1)

  def quantizeInt8(v: Column): Column = {
    val dv = asDouble(v)
    val maxAbs = aggregate(dv, lit(0.0), (acc, x) => greatest(acc, abs(x)))
    withScalar(maxAbs / 127.0, dv) { (scale, vec) =>
      struct(
        scale.as("scale"),
        transform(vec, x =>
          when(scale === 0.0, lit(0))
            .otherwise(round(x / scale, 0).cast("int")).cast("byte")).as("q"))
    }
  }

  /** Inverse of [[quantizeInt8]]: array<double> approximation. */
  def dequantizeInt8(qv: Column): Column =
    transform(qv.getField("q"), x => x.cast("double") * qv.getField("scale"))

  /** Exact-arithmetic top-k over an int8-QUANTIZED corpus — the
    * asymmetric search (full-precision query, compressed corpus) every
    * memory-bound ANN deployment runs before reaching for PQ: the scan
    * reads ONE byte per element instead of four, and because cosine is
    * scale-invariant the per-vector scale never even loads —
    * cos(q, scale·c) = dot(q, c) / (|q|·|c|) for scale > 0, so scoring
    * uses the raw int8 codes directly (integer-valued doubles: exact
    * arithmetic, bit-identical across engines). Same plan shape as
    * [[bruteForceTopK]]: queries broadcast, corpus scanned once, never
    * shuffled, per-partition partial top-k. At d=1024 float32 and 100 TB
    * of vectors this is the difference between a 25 TB and a 100 TB
    * scan; recall loss is the quantization error only (int8 keeps
    * ~7 significant bits — far gentler than PQ's codebook, at 8x the
    * bytes of m=4 codes). All-zero vectors (scale 0) score NaN, as in
    * [[bruteForceTopK]] — filter them out upstream.
    * `quantized`: (idCol, qvCol = struct(scale, q)) from
    * [[quantizeInt8]]. */
  def int8TopK(queries: DataFrame, quantized: DataFrame, qidCol: String,
      idCol: String, vecCol: String, qvCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(qidCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
      .withColumn("__qn", sqrt(VecOps.vecDot(col("__qv"), col("__qv"))))
    val c = quantized.select(col(idCol).as("neighbor_id"),
      transform(col(qvCol).getField("q"), x => x.cast("double")).as("__cv"))
      .withColumn("__cn", sqrt(VecOps.vecDot(col("__cv"), col("__cv"))))
    val joined = c.join(broadcast(q),
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
    rankTopK(joined.select(
        col("query_id"), col("neighbor_id"),
        (VecOps.vecDot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
          .as("sim")),
      k)
  }

  /** Unit-normalize a vector (double precision). */
  def normalize(v: Column): Column = {
    val dv = asDouble(v)
    val n = sqrt(aggregate(dv, lit(0.0), (acc, x) => acc + x * x))
    withScalar(n, dv)((norm, vec) => transform(vec, x => x / norm))
  }

  /** Embedding-cosine near-duplicate pairs, APPROXIMATE scale path:
    * `tables` independent hyperplane-LSH tables (different seeds),
    * candidates = same bucket in ANY table, exact cosine re-scored on
    * candidates only — so reported `sim` values are exact but the pair
    * SET has recall < 1. Multiple tables recover the recall a single
    * signature loses; per-pair work stays one native vec_dot. */
  def cosineNearDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, planes: Int = 8, tables: Int = 4,
      seed: Long = 42L): DataFrame =
    nearDupPairsImpl(df, idCol, vecCol, threshold, dim, planes, tables, seed,
      allPairs = false)

  /** Embedding-cosine near-duplicate pairs, EXACT all-pairs variant:
    * complete pair set, O(n²) — a scale-killer on a real corpus. For
    * bounded corpora and cross-engine verification (the DuckDB oracle
    * query compares the complete pair set). */
  def cosineNearDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int): DataFrame =
    nearDupPairsImpl(df, idCol, vecCol, threshold, dim, planes = 0, tables = 0,
      seed = 0L, allPairs = true)

  /** Shared candidate-generation + exact re-score. Casts and norms are
    * hoisted per ROW; the per-PAIR cost is one native vec_dot + a
    * divide, arithmetically identical to `cosine()` (same
    * left-to-right double accumulation). */
  private def nearDupPairsImpl(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, planes: Int, tables: Int,
      seed: Long, allPairs: Boolean): DataFrame = {
    val base = df.select(col(idCol).as("__id"), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", sqrt(VecOps.vecDot(col("__v"), col("__v"))))
    val withBucket =
      if (allPairs) base.withColumn("__bucket", lit(""))
      else {
        require(planes > 0 && tables > 0,
          "planes and tables must be > 0 (or pass allPairs = true for the exact O(n^2) path)")
        // one bucket id per table: "t<i>:<signature_i>"; explode so a
        // pair collides if it shares a bucket in ANY table
        val buckets = array((0 until tables).map(i =>
          concat_ws(":", lit(s"t$i"),
            hyperplaneSignature(col("__v"), dim, planes, seed + i))): _*)
        base.withColumn("__bucket", explode(buckets))
      }
    val a = withBucket.select(col("__bucket"), col("__id").as("a"),
      col("__v").as("__va"), col("__n").as("__na"))
    val b = withBucket.select(col("__bucket"), col("__id").as("b"),
      col("__v").as("__vb"), col("__n").as("__nb"))
    val scored = a.join(b, Seq("__bucket")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (VecOps.vecDot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("sim"))
      .filter(col("sim") >= threshold)
    // a pair can collide in several tables; sim is deterministic so a
    // plain distinct dedupes without a re-join
    if (allPairs) scored else scored.distinct()
  }

  // ---- SemDeDup: semantic deduplication (Abbas et al. 2023) ----------

  /** Per-document cluster assignment + similarity to the assigned
    * centroid, on the IVF centroid machinery (md5-hash-sampled seeds,
    * optional Lloyd refinement — the same deterministic selection the
    * ANN oracles replay). Returns (idCol, vecCol, list_id,
    * centroid_sim). */
  def semClusters(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, refineIters: Int = 0): DataFrame = {
    val cents = ivfCentroids(df, idCol, vecCol, nlist, refineIters)
    nearestLists(df.select(col(idCol), col(vecCol)), idCol, vecCol, cents, 1)
      .join(broadcast(cents), Seq("list_id"))
      .withColumn("centroid_sim", cosine(col(vecCol), col("__centroid")))
      .drop("__centroid")
  }

  /** Product-quantization model: `m` codebooks of `codebookSize`
    * `dsub`-dimensional centroids. A d-dim vector encodes as m small
    * integers (its nearest centroid per subspace) — at m=8,
    * codebookSize=256 that is 8 bytes instead of d floats, the
    * compression that makes billion-vector ANN fit in memory
    * (Jégou et al. 2011). Codebooks are chosen DETERMINISTICALLY like
    * [[buildIvfIndex]]'s centroids (the md5-ordered first
    * `codebookSize` corpus rows, each contributing its j-th subvector
    * to codebook j), so encoding, scoring, and the DuckDB oracle all
    * replay from (corpus, m, codebookSize) alone. */
  final case class PqModel(m: Int, dsub: Int,
      codebooks: Array[Array[Array[Double]]]) {
    def codebookSize: Int = codebooks.head.length
  }

  /** Fit a [[PqModel]]: one TakeOrdered over the corpus (codebookSize
    * rows collected — bounded like the IVF centroid pick). The vector
    * dimension must divide into `m` equal subspaces. `saltDonors`
    * decorrelates the donor ordering from other md5-keyed picks over
    * the same ids — [[buildIvfPqIndex]] salts with "pq" so its
    * codebook donors are NOT the centroid seeds (whose residuals are
    * all-zero and would waste codebook entries); the default ""
    * preserves the original unsalted ordering bit-for-bit. */
  def trainPq(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, codebookSize: Int = 16, saltDonors: String = ""): PqModel = {
    require(m >= 1 && codebookSize >= 1, "m and codebookSize must be >= 1")
    val rows = corpus
      .orderBy(md5(concat(lit(saltDonors), col(idCol).cast("string"))
        .cast("binary")), col(idCol))
      .limit(codebookSize)
      .select(asDouble(col(vecCol)).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "trainPq needs a non-empty corpus")
    val d = rows.head.length
    require(d % m == 0, s"dim $d must divide into m=$m equal subspaces")
    val dsub = d / m
    PqModel(m, dsub,
      Array.tabulate(m)(j => rows.map(_.slice(j * dsub, (j + 1) * dsub))))
  }

  /** Add a `pq_code` column (array<int>, length m): per subspace, the
    * index of the L2-nearest codebook centroid (ties to the smaller
    * index). Pure scan-side expression algebra — the standard
    * k·d-per-row encode cost, no shuffle; store the codes next to the
    * ids and drop the raw vectors for the compressed-domain scan. */
  def pqEncode(corpus: DataFrame, vecCol: String, model: PqModel): DataFrame = {
    val v = asDouble(col(vecCol))
    val codeFor = (0 until model.m).map { j =>
      val xj = slice(v, j * model.dsub + 1, model.dsub)
      val ranked = array(model.codebooks(j).zipWithIndex.map { case (c, i) =>
        val cl = typedLit(c.toSeq)
        // ||x-c||^2 = x.x - 2 x.c + c.c ; the c.c term is a constant
        struct(
          (VecOps.vecDot(xj, xj) - lit(2.0) * VecOps.vecDot(xj, cl)
            + lit(c.map(x => x * x).sum)).as("d"),
          lit(i).as("i"))
      }: _*)
      array_min(ranked).getField("i")
    }
    corpus.withColumn("pq_code", array(codeFor: _*))
  }

  /** Lloyd refinement of a [[PqModel]]'s codebooks — the k-means per
    * subspace production PQ training runs (FAISS does exactly this):
    * per iteration, every vector's m subvectors are assigned to their
    * nearest codebook entry (the same argmin [[pqEncode]] uses) and
    * each (subspace, code) entry moves to its members' element-wise
    * mean; entries with no members keep their vectors. 2-3 iterations
    * move the crude donor-row codebooks to genuine subspace density
    * centers — a quantization-error/recall fix, not a scale change.
    * Like the IVF Lloyd refinement, the means are float-reduction-
    * order dependent, so REFINED codebooks are not bit-replayable in
    * an external oracle — the contract rows keep refinement off.
    * Cost per iteration: one corpus scan (the encode) + one skinny
    * (m·codebookSize·dsub)-bounded aggregate with map-side combine. */
  def refinePq(corpus: DataFrame, vecCol: String, model: PqModel,
      iters: Int): PqModel =
    (0 until iters).foldLeft(model) { (cb, _) =>
      val means = pqEncode(corpus.select(col(vecCol)), vecCol, cb)
        .select(asDouble(col(vecCol)).as("__v"),
          posexplode(col("pq_code")).as(Seq("__j", "__code")))
        .select(col("__j"), col("__code"),
          posexplode(slice(col("__v"), col("__j") * cb.dsub + 1,
            lit(cb.dsub))).as(Seq("__p", "__x")))
        .groupBy("__j", "__code", "__p").agg(avg("__x").as("__m"))
        .collect()
      val next = Array.tabulate(cb.m)(j =>
        cb.codebooks(j).map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      PqModel(cb.m, cb.dsub, next)
    }

  /** Johnson–Lindenstrauss random projection of an embedding column to
    * `outDim` dimensions: p_i = dot(v, g_i) / sqrt(outDim) with seeded
    * standard-gaussian directions g_i (the 1/√outDim scaling makes
    * E‖p‖² = ‖v‖², so distances and dot products are preserved in
    * expectation). The cheap pre-ANN compression when embeddings are
    * wider than the search needs — at d=1024 → 64, the brute-force
    * scan reads and multiplies 16× less. Pure scan-side expression
    * algebra: outDim plane literals ride the plan (one Catalyst node
    * each, like [[hyperplaneSignature]]'s planes), no shuffle.
    * Deterministic in (dim, outDim, seed) — replayable by an external
    * engine from the same gaussian stream. */
  def randomProject(vec: Column, dim: Int, outDim: Int,
      seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    val dv = asDouble(vec)
    val s = math.sqrt(outDim.toDouble)
    array((0 until outDim).map { _ =>
      val g = typedLit(IndexedSeq.fill(dim)(rnd.nextGaussian()))
      VecOps.vecDot(dv, g) / lit(s)
    }: _*)
  }

  /** Per-query ADC lookup table: inner products of each query
    * subvector against every codebook entry, flattened j-major — the
    * ONE definition of the scoring table shared by [[pqTopK]] and
    * the PQ probe of [[ivfTopKIndexed]], whose bit-identical DuckDB
    * oracles both replay it.
    * `qv` must be array<double>. */
  private def pqLut(model: PqModel, qv: Column): Column =
    array((0 until model.m).flatMap { j =>
      val qj = slice(qv, j * model.dsub + 1, model.dsub)
      model.codebooks(j).map(c => VecOps.vecDot(qj, typedLit(c.toSeq)))
    }: _*)

  /** The m-term ADC sum of a row's `pq_code` against its `__lut`,
    * left-associated in j order — the float-addition order the
    * oracles replay. Shared by both PQ search paths. */
  private def pqAdc(model: PqModel): Column =
    (0 until model.m)
      .map(j => element_at(col("__lut"),
        lit(j * model.codebookSize + 1) + element_at(col("pq_code"), j + 1)))
      .reduce(_ + _)

  /** Exact-cosine re-rank of a (query_id, neighbor_id) shortlist:
    * fetch ONLY the shortlist rows' true vectors (a candidate-sized
    * join — never the corpus) plus the broadcast queries, score the
    * exact cosine, keep top-k. Shared by [[pqTopKRefined]] and
    * [[ivfPqTopKRefined]] so the rerank math and its (sim desc, id
    * asc) tie-break have one definition. `qFrame` carries
    * (__qid_raw, __qv_raw). */
  private def exactRerank(shortlist: DataFrame, corpus: DataFrame,
      qFrame: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    shortlist
      .join(corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("__cv")), Seq("neighbor_id"))
      .join(broadcast(qFrame.select(col("__qid_raw").as("query_id"),
        asDouble(col("__qv_raw")).as("__qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (VecOps.vecDot(col("__qv"), col("__cv"))
          / (sqrt(VecOps.vecDot(col("__qv"), col("__qv")))
            * sqrt(VecOps.vecDot(col("__cv"), col("__cv"))))).as("sim"))
      .transform(rankTopK(_, k))

  /** Asymmetric-distance top-k over PQ codes: per query, ONE lookup
    * table of subvector·centroid inner products is computed on the
    * (tiny, broadcast) query frame, and each corpus code scores as m
    * table lookups — `sum_j lut[j][code_j]` ≈ the full inner product,
    * at 8 `element_at`s per pair instead of a d-dim dot. The corpus
    * side carries only (id, code): never the vectors, never a shuffle
    * (the result window ranks |queries|·|corpus→k| rows like
    * [[bruteForceTopK]]). Scores are approximate INNER PRODUCTS —
    * L2-normalize embeddings upstream if cosine ranking is wanted. */
  def pqTopK(queries: DataFrame, codes: DataFrame, qidCol: String,
      vecCol: String, idCol: String, k: Int, model: PqModel,
      excludeSelf: Boolean = true): DataFrame = {
    val (qframe, codesSel) = adcFrames(queries, codes, qidCol, vecCol, idCol, model)
    // Fused ADC scan (guide §3 + codegen): the broadcast-nested-loop
    // join materializes Q joined rows per corpus code (~200 ns/pair of
    // row machinery at the bench shape) just to feed the ranking
    // aggregate. When the shape allows, collect the SAME Spark-
    // evaluated (query_id, __lut) rows the broadcast would carry —
    // LUT values bit-identical by construction — and run one
    // PqAdcTopK aggregate over the codes scan: Q bounded heaps, a
    // few array loads per pair, no joined-row allocation. The
    // fallback (generic id types, null/duplicate query ids, null
    // LUTs) is [[pqTopKUnfused]], value-identical and OpsSpec-pinned.
    fusedAdcTopK(qframe, codesSel, k, model, excludeSelf).getOrElse(
      pqTopKUnfused(queries, codes, qidCol, vecCol, idCol, k, model, excludeSelf))
  }

  /** [[pqTopK]] as a broadcast join of the per-query LUT frame against
    * the codes plus [[rankTopK]]: the fallback where the fused kernel
    * does not apply, and the reference the fused scan is tested
    * against. */
  private[graft] def pqTopKUnfused(queries: DataFrame, codes: DataFrame,
      qidCol: String, vecCol: String, idCol: String, k: Int, model: PqModel,
      excludeSelf: Boolean): DataFrame = {
    val (qframe, codesSel) = adcFrames(queries, codes, qidCol, vecCol, idCol, model)
    codesSel
      .join(broadcast(qframe),
        if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"), pqAdc(model).as("sim"))
      .transform(rankTopK(_, k))
  }

  /** [[pqTopK]]'s two inputs: (query_id, __lut) per query and
    * (neighbor_id, pq_code) per corpus row. */
  private def adcFrames(queries: DataFrame, codes: DataFrame, qidCol: String,
      vecCol: String, idCol: String, model: PqModel): (DataFrame, DataFrame) =
    (queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__lut", pqLut(model, asDouble(col("__qv")))).drop("__qv"),
      codes.select(col(idCol).as("neighbor_id"), col("pq_code")))

  /** The [[graft.functions.PqAdcTopK]] dispatch shared by [[pqTopK]]:
    * Some(result) when the fused kernel applies, None to take the
    * unfused join. `qframe`: (query_id, __lut[, __qc]). */
  private def fusedAdcTopK(qframe: DataFrame, codesSel: DataFrame, k: Int,
      model: PqModel, excludeSelf: Boolean): Option[DataFrame] = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}
    val addQc = qframe.columns.contains("__qc")
    val shapeOk = qframe.schema("query_id").dataType == LongType &&
      codesSel.schema("neighbor_id").dataType == LongType &&
      (codesSel.schema("pq_code").dataType match {
        case ArrayType(IntegerType, _) => true
        case _                         => false
      })
    if (!shapeOk) return None
    val rows = qframe.collect()
    val qs = scala.collection.mutable.ArrayBuffer.empty[graft.functions.PqAdcTopK.Query]
    val lutIdx = rows.headOption.map(_.fieldIndex("__lut")).getOrElse(1)
    val qcIdx = if (addQc) rows.headOption.map(_.fieldIndex("__qc")).getOrElse(2) else -1
    rows.foreach { r =>
      if (r.isNullAt(0)) return None // null query_id: window groups it
      val lutAny = if (r.isNullAt(lutIdx)) null else r.getSeq[Any](lutIdx)
      if (lutAny == null || lutAny.exists(_ == null)) return None // null LUT: sims go null
      if (addQc && r.isNullAt(qcIdx)) return None
      qs += graft.functions.PqAdcTopK.Query(r.getLong(0),
        lutAny.map(_.asInstanceOf[Double]).toArray,
        if (addQc) r.getDouble(qcIdx) else 0.0)
    }
    // duplicate query ids rank TOGETHER under the window form — only
    // the per-distinct-query kernel shape is equivalence-safe
    if (qs.map(_.id).distinct.length != qs.length) return None
    Some(codesSel
      .agg(graft.functions.PqAdcTopK.of(col("neighbor_id"), col("pq_code"),
        qs.toSeq, k, model.m, model.codebookSize, excludeSelf, addQc).as("__topk"))
      .select(explode(col("__topk")).as("__e"))
      .select(col("__e").getField("query_id").as("query_id"),
        col("__e").getField("neighbor_id").as("neighbor_id"),
        col("__e").getField("sim").as("sim"),
        col("__e").getField("rank").as("rank")))
  }

  /** PQ search with exact re-ranking: ADC proposes `candidates` ids
    * per query from the compressed codes, then ONLY those rows' true
    * vectors are fetched (a candidate-sized join, |queries|·candidates
    * rows — never the corpus) and re-scored with the exact cosine for
    * the final top-k. The standard recall-restoring pattern: the
    * compressed scan does the winnowing, exact math only touches the
    * shortlist. */
  def pqTopKRefined(queries: DataFrame, corpus: DataFrame, qidCol: String,
      idCol: String, vecCol: String, k: Int, model: PqModel,
      candidates: Int = 0): DataFrame = {
    val cand = math.max(k, if (candidates <= 0) 4 * k else candidates)
    val codes = pqEncode(
      corpus.select(col(idCol), col(vecCol)), vecCol, model)
    val qFrame = queries.select(col(qidCol).as("__qid_raw"),
      col(vecCol).as("__qv_raw"))
    val shortlist = pqTopK(qFrame, codes, "__qid_raw", "__qv_raw",
        idCol, cand, model)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(shortlist, corpus, qFrame, idCol, vecCol, k)
  }

  // ---- IVF-PQ: residual product quantization inside inverted lists --

  /** Build an [[IvfIndex]] whose lists hold residual PQ codes — the
    * layout billion-vector ANN actually ships (Jégou et al. 2011 §IV;
    * FAISS `IVFPQ`): the corpus is clustered into `nlist` inverted
    * lists ([[buildIvfIndex]]'s centroid selection and assignment:
    * hash-sampled seeds, optional Lloyd refinement, cosine-desc/list_id
    * tie-break), every vector is reduced to its RESIDUAL against its
    * list centroid, and the residuals are product-quantized with
    * [[trainPq]]'s md5-ordered donor pick over the residual frame. The
    * search path then holds a broadcastable centroid frame, an
    * m·codebookSize codebook, and (list_id, id, m small ints) lists —
    * the raw vectors are GONE.
    *
    * Why this is the 100 TB design and neither parent alone is: a
    * vector index prunes the scan to `nprobe` lists but still reads d
    * floats per stored vector; [[pqTopK]] reads 4·m-byte codes but
    * scans the WHOLE corpus per query batch. IVF-PQ does both — at
    * d=1024 float32 and m=8 the probed bytes drop ~500× vs IVF and
    * the probed row count drops nlist/nprobe× vs flat PQ. Scores are
    * approximate INNER PRODUCTS dot(q, c_list) + Σ_j lut_q[j][code_j]
    * (the residual decomposition dot(q,x) = dot(q,c) + dot(q,r) with
    * r quantized) — L2-[[normalize]] embeddings upstream if cosine
    * ranking is wanted, and [[ivfPqTopKRefined]] for exact-cosine
    * reranking of the shortlist. Cost: the centroid pick, then two
    * scan-side passes over the corpus (one collects the bounded donor
    * set, one encodes) — no shuffle beyond the bounded centroid
    * TakeOrdered. */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, m: Int = 8, codebookSize: Int = 16,
      refineIters: Int = 0, pqRefineIters: Int = 0): IvfIndex = {
    val centroids = ivfCentroids(corpus, idCol, vecCol, nlist, refineIters)
    // lazy-checkpoint the residual frame when refinement multiplies
    // its consumers: the donor TakeOrdered, every refinePq iteration
    // and the final encode would otherwise each re-run the assignment
    // kernel + centroid join over the whole corpus
    val resid0 = residualFrame(corpus, idCol, vecCol, centroids)
    val resid = if (pqRefineIters > 0) resid0.localCheckpoint(false) else resid0
    val pq = refinePq(resid, "__resid",
      trainPq(resid, "neighbor_id", "__resid", m, codebookSize,
        saltDonors = "pq"),
      pqRefineIters)
    IvfIndex(centroids, residualCodes(resid, pq), Some(pq))
  }

  /** (list_id, neighbor_id, __resid): each corpus vector assigned to
    * its nearest fixed centroid ([[assignLists]] — scan-side kernel)
    * and reduced to the residual against it. Centroid values ride a
    * broadcast join on list_id (nlist rows), subtraction is a plain
    * codegen zip_with — the whole frame is one corpus scan. */
  private[graft] def residualFrame(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    assignLists(corpus, idCol, vecCol, centroids)
      .join(broadcast(centroids), Seq("list_id"))
      .select(col("list_id"), col("neighbor_id"),
        zip_with(asDouble(col("vec")), col("__centroid"),
          (a, b) => a - b).as("__resid"))

  /** A [[residualFrame]] encoded as PQ list rows:
    * (list_id, neighbor_id, pq_code). */
  private def residualCodes(resid: DataFrame, model: PqModel): DataFrame =
    pqEncode(resid, "__resid", model)
      .select(col("list_id"), col("neighbor_id"), col("pq_code"))

  /** IVF-PQ search with exact re-ranking: ADC over the probed lists
    * proposes `candidates` ids per query, then ONLY those rows' true
    * vectors are fetched (a shortlist-sized join — never the corpus)
    * and re-scored with the exact cosine, the same recall-restoring
    * shape as [[pqTopKRefined]]. The index must hold PQ codes: a
    * vector index already ranks exact cosines. */
  def ivfPqTopKRefined(queries: DataFrame, corpus: DataFrame,
      index: IvfIndex, qidCol: String, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 4, candidates: Int = 0): DataFrame = {
    require(index.pq.isDefined,
      "ivfPqTopKRefined reranks an ADC shortlist, but this index holds vectors " +
        "and its probe already scores exact cosines — use ivfTopKIndexed")
    val cand = math.max(k, if (candidates <= 0) 4 * k else candidates)
    val qFrame = queries.select(col(qidCol).as("__qid_raw"),
      col(vecCol).as("__qv_raw"))
    val shortlist = ivfTopKIndexed(qFrame, index, "__qid_raw", "__qv_raw",
        cand, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(shortlist, corpus, qFrame, idCol, vecCol, k)
  }

  /** Schemes whose rename is a COPY (or absent), not an atomic move —
    * the stores where a directory swap can be observed half-done. */
  private val NoAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "swift", "wasb", "wasbs")

  /** Operational metadata persisted BESIDE the index (`meta.json`) —
    * currently the autotuned `default_nprobe` the CLI's
    * `--target-recall` sweep lands on, so the tuning is paid once and
    * every later `--search` of the index inherits it instead of
    * re-sweeping or flying blind on a hardcoded default. Routed
    * through the Hadoop FileSystem of the path's scheme like the rest
    * of the lifecycle (works on `hdfs://`; no rename involved — the
    * file is a hint, simple overwrite-create suffices). The meta is
    * advisory: a missing or unparseable file degrades to empty, never
    * fails a search. Appends and compaction leave it in place;
    * `--rebuild` writes a NEW directory without it by design (fresh
    * centroids invalidate a tuning made against the old lists). */
  def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(path, "meta.json")
    try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Map.empty
      else {
        val in = fs.open(p)
        val txt =
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        graft.util.Jsons.parse(txt) match {
          case Some(m: Map[_, _]) =>
            m.asInstanceOf[Map[String, Any]].map { case (k, v) => k -> String.valueOf(v) }
          case _ => Map.empty[String, String]
        }
      }
    } catch { case _: Exception => Map.empty } // advisory — never fail a read
  }

  /** Merge `kv` into the index's `meta.json`. The write goes through a
    * temp file + rename (same pattern as the index lifecycle): a plain
    * overwrite-create left a window where a reader hitting a torn
    * meta.json silently degraded to the blind nprobe default,
    * discarding a paid tuning, and two concurrent `--target-recall`
    * runs could interleave create() halves. Rename makes each publish
    * all-or-nothing; last-writer-wins on the MERGED map is the most a
    * hint file needs (the advisory read fallback stays). */
  def updateIndexMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, kv: Map[String, String]): Unit = {
    val merged = readIndexMeta(spark, path) ++ kv
    val p = new org.apache.hadoop.fs.Path(path, "meta.json")
    val tmp = new org.apache.hadoop.fs.Path(path,
      s".meta_${java.util.UUID.randomUUID().toString.take(8)}.json.tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(graft.util.Jsons.obj(
        merged.toSeq.sortBy(_._1).map { case (k, v) => k -> (v: Any) }: _*)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    try {
      // OVERWRITE rename publishes atomically where the FS supports it
      // (HDFS, local): no window where meta.json is absent and no loss
      // on a crash mid-publish — a reader sees the old or the new
      // content, never neither. Schemes without FileContext support
      // fall back to delete+rename, which keeps a small no-file window
      // (those schemes lack atomic rename anyway — the index lifecycle
      // already fails fast on them for the data swaps).
      try {
        org.apache.hadoop.fs.FileContext
          .getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
          .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          fs.delete(p, false) // HDFS plain rename won't clobber
          if (!fs.rename(tmp, p))
            throw new java.io.IOException(s"rename $tmp -> $p returned false")
      }
    } catch {
      case e: Exception =>
        fs.delete(tmp, false)
        throw e
    }
  }

  /** Compact a persisted index in place: each append leaves one file
    * set per touched list partition, so a long-appended index pays its
    * probe cost in file-open overhead; compaction rewrites the data
    * frame clustered by list (ONE file per list again) — rows, probe
    * results and the pinned-type reload are all unchanged. The data is
    * read through [[loadIvfIndex]], so both encodings compact alike. The
    * rewrite goes through a sibling temp dir and a directory swap:
    * Spark cannot overwrite a path it is lazily reading, and a crash
    * mid-compaction must leave either the old or the new layout, not
    * a half-written one. All probes and renames go through the Hadoop
    * FileSystem of the path's scheme (local, `file://`, `hdfs://`);
    * schemes without atomic rename (s3a and friends) FAIL FAST with
    * the rewrite-to-a-new-path advice instead of risking a torn swap.
    * On entry, leftovers of a crashed prior compact self-heal: a
    * `.compact_old` with the data dir missing (death between the two
    * renames) is moved back into place; one left beside an intact data
    * dir (death during cleanup) is deleted; a stale `.compact_tmp` is
    * always discarded. Same one-writer contract as append. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    // scheme gate BEFORE touching the store: on a rename-less scheme
    // even probing risks a later torn swap, and the advice is the same
    // either way. (Checked on the URI, so a bare local path — null
    // scheme — falls through to the default filesystem.)
    Option(root.toUri.getScheme).map(_.toLowerCase).foreach { scheme =>
      if (NoAtomicRenameSchemes(scheme))
        throw graft.errors.Errors.config(
          s"compactIndex swaps directories with filesystem renames, and " +
            s"$scheme:// has no atomic rename — a crash mid-swap could " +
            "leave a half-copied index.",
          "rewrite the index to a NEW path instead: load it, then " +
            "saveIvfIndex to a fresh directory and point readers there")
    }
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val codes = new org.apache.hadoop.fs.Path(root, listsDir(pq = true))
    val lists = new org.apache.hadoop.fs.Path(root, listsDir(pq = false))
    val old = new org.apache.hadoop.fs.Path(root, ".compact_old")
    val tmp = new org.apache.hadoop.fs.Path(root, ".compact_tmp")
    def renameOrDie(from: org.apache.hadoop.fs.Path,
        to: org.apache.hadoop.fs.Path): Unit =
      if (!fs.rename(from, to)) throw graft.errors.Errors.config(
        s"compactIndex could not rename $from to $to.",
        "check permissions and that no other writer holds this index " +
          "(one-writer contract)")
    // self-heal a crashed prior compact FIRST — layout detection below
    // must see the recovered index, not the wreckage
    if (fs.exists(old)) {
      if (!fs.exists(codes) && !fs.exists(lists)) {
        // died between the two renames: .compact_old IS the index data.
        // Its original name is recoverable from the layout siblings —
        // only IVF-PQ indexes carry codebooks.parquet.
        val target = if (fs.exists(
          new org.apache.hadoop.fs.Path(root, "codebooks.parquet"))) codes
        else lists
        renameOrDie(old, target)
      } else fs.delete(old, true) // swap completed, cleanup died
    }
    if (fs.exists(tmp)) fs.delete(tmp, true) // stale half-written rewrite
    val index = loadIvfIndex(spark, path)
    val dataDir = new org.apache.hadoop.fs.Path(root, listsDir(index.pq.isDefined))
    index.lists.repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(tmp.toString)
    // swap: the old dir moves aside first so a crash between the two
    // renames leaves a recoverable .compact_old, never a missing index
    renameOrDie(dataDir, old)
    renameOrDie(tmp, dataDir)
    fs.delete(old, true)
  }

  /** Per-query recall@k of an approximate ANN result against an exact
    * baseline: both frames carry (query_id, neighbor_id) rows — the
    * approximate and the ground-truth top-k. Returns one row per
    * query present in `exact`: (query_id, hits, exact_n, recall) where
    * recall = |approx ∩ exact| / |exact|. The measurement loop every
    * tuned ANN deployment needs: sample queries, compute exact top-k
    * once ([[bruteForceTopK]] on the sample), and track recall as
    * nprobe / planes / codebook sizes move. Joins on (query, neighbor)
    * — cost is |exact| rows, never the corpus. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    // distinct BEFORE the join: an approx frame carrying duplicate
    // (query, neighbor) rows (e.g. a multi-band LSH result that was
    // not deduped upstream) would otherwise multiply the left join and
    // count the same hit twice — letting recall exceed 1.0
    val a = approx.select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("__hit", lit(1L))
    exact.select(col("query_id"), col("neighbor_id"))
      .join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("hits"),
        count(lit(1)).as("exact_n"))
      .withColumn("recall", col("hits") / col("exact_n"))
      .select(col("query_id"), col("hits"), col("exact_n"), col("recall"))
  }

  /** Cluster-balanced ("diversity") sampling: exactly `kPerCluster`
    * rows from each semantic cluster — uniform coverage over TOPICS
    * instead of uniform over rows, the standard recipe for building
    * eval sets and seed corpora whose head topics would otherwise
    * drown the tail. Clustering is [[semClusters]]' deterministic IVF
    * machinery (seeded md5-ordered centroids, nearest-centroid
    * assignment); within each cluster the winners are the k smallest
    * deterministic unit hashes (id tie-break), i.e.
    * [[Sampling.exactKPerStratum]] over `list_id` — so the sample is
    * a pure function of (corpus, nlist, seed): layout- and
    * cluster-size-independent, replayable, and stable under reruns.
    * Cost: one clustering pass + one stratum-keyed window; rows keep
    * their cluster id and centroid similarity for downstream
    * weighting. */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
      kPerCluster: Int, nlist: Int = 16, seed: Int = 42,
      refineIters: Int = 0): DataFrame =
    Sampling.exactKPerStratum(
      semClusters(df, idCol, vecCol, nlist, refineIters),
      idCol, "list_id", kPerCluster, seed)

  /** SemDeDup candidate pairs: vectors are compared ONLY within their
    * cluster, so the quadratic pair cost is bounded per cluster
    * (|cluster| ~ n/nlist), never corpus-wide — that bound is the
    * paper's whole point. Returns (a, b, sim) with sim >= threshold;
    * pairs ACROSS clusters are unseen by construction (recall < 1,
    * like every clustered dedup). */
  def semDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, refineIters: Int = 0,
      maxCluster: Int = 100000): DataFrame =
    semDedupPairsFromClusters(
      semClusters(df, idCol, vecCol, nlist, refineIters), idCol, vecCol,
      threshold, maxCluster)

  /** [[semDedupPairs]] from an ALREADY-COMPUTED [[semClusters]] frame —
    * [[semDedup]] threads one clustering through both the pair join
    * and the representative choice.
    *
    * `maxCluster` is the degenerate-cluster guard every other pair
    * generator here carries (`maxBucket` in the LSH paths): with too
    * few centroids — or a corpus that collapses onto one — a single
    * cluster can hold most of the corpus and the within-cluster join
    * silently goes O(n²). Clusters above the cap are EXCLUDED from
    * pair generation (their members all survive dedup); raise the cap
    * deliberately, or raise `nlist`, for corpora where that loss of
    * recall matters. */
  def semDedupPairsFromClusters(clusters: DataFrame, idCol: String,
      vecCol: String, threshold: Double,
      maxCluster: Int = 100000): DataFrame = {
    // the assignment feeds both sides of the pair join — cache it so
    // the centroid argmax runs once
    val assigned = Dedup.cacheOnce(
      clusters.select(col("list_id"), col(idCol), asDouble(col(vecCol)).as("__v"))
        .withColumn("__n", sqrt(VecOps.vecDot(col("__v"), col("__v"))))
        .withColumn("__sz", count(lit(1)).over(Window.partitionBy("list_id")))
        .filter(col("__sz") <= maxCluster)
        .drop("__sz"))
    val a = assigned.select(col("list_id"), col(idCol).as("a"),
      col("__v").as("__va"), col("__n").as("__na"))
    val b = assigned.select(col("list_id"), col(idCol).as("b"),
      col("__v").as("__vb"), col("__n").as("__nb"))
    a.join(b, Seq("list_id")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (VecOps.vecDot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Full SemDeDup: drop semantic duplicates, keeping per duplicate
    * group the member with the LOWEST similarity to its cluster
    * centroid (the paper's diversity-preserving choice, §3) — or the
    * minimum id with `keepFarthestFromCentroid = false` (cheaper: no
    * centroid-sim join). Survivors keep their original columns. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, refineIters: Int = 0,
      keepFarthestFromCentroid: Boolean = true,
      maxCluster: Int = 100000): DataFrame = {
    val clusters = Dedup.cacheOnce(
      semClusters(df, idCol, vecCol, nlist, refineIters))
    val pairs = semDedupPairsFromClusters(clusters, idCol, vecCol, threshold,
      maxCluster)
    if (!keepFarthestFromCentroid) Dedup.dedupByPairs(df, idCol, pairs)
    else Dedup.dedupByPairsBest(
      df.join(clusters.select(col(idCol), col("centroid_sim")), Seq(idCol)),
      idCol, pairs, score = col("centroid_sim"), ascending = true)
      .drop("centroid_sim")
  }
}
