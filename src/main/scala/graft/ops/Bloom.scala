package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.BloomProbeExpr

/** Broadcast-able Bloom filters over a key column — the scan-side
  * pre-filter that lets a recurring 100 TB refresh skip the shuffle
  * against its history store for every row the filter proves is new.
  *
  * A Bloom filter has NO false negatives: `mightContain = false` means
  * the key is definitely absent from the set it was built over, so a
  * consumer may treat those rows as "fresh" without any join at all;
  * only the `true` rows (genuine hits + an `fpp` fraction of false
  * positives) need the exact check. Composed this way the filter is
  * semantically transparent — [[Dedup.incrementalDedupBloom]] and
  * [[Dedup.contaminatedIdsBloom]] return bit-identical results to
  * their exact twins, which is what their shared oracle rows pin.
  *
  * Mechanics: keys are hashed to a long with `xxhash64` on BOTH the
  * build and probe side (so callers pass the natural key column and
  * cannot mismatch hashers); the build is ONE whole-stage-codegen
  * aggregation (catalyst `BloomFilterAggregate` — per-partition
  * partial filters OR-merged, no row boxing); the probe is codegen'd
  * either way, in two forms: [[mightContain]] over serialized bytes
  * as a literal (fine for small filters and tests) or — the form the
  * dedup operators use — [[broadcastFilter]] + the broadcast overload,
  * which torrent-ships the filter once per executor instead of inside
  * every task binary ([[graft.functions.BloomProbeExpr]]).
  *
  * Sizing: `optimalNumOfBits(n, fpp)` ≈ n·ln(1/fpp)/ln²2 — 100 M keys
  * at the 0.03 default is ~90 MB, 1 B keys ~900 MB. The Dedup
  * operators build at that default; for another rate, [[build]] the
  * store's filter yourself (raise `fpp` to shrink — false positives
  * only cost exact-check work, never correctness) and pass it to
  * [[Dedup.incrementalDedupBloom]].
  */
object Bloom {

  /** Hash convention shared by build and probe. xxhash64 collisions
    * between DISTINCT keys only add to the false-positive rate (they
    * are resolved by the caller's exact check, like any bloom FP).
    * Spark's xxhash64 maps a null input to the SEED (it never returns
    * null), which would make every null key "contain" every other
    * null key — so nulls are made explicit here: they hash to null,
    * are dropped on the build side, and probe null (see
    * [[mightContain]]). */
  private def keyHash(key: Column): Column =
    when(key.isNull, lit(null).cast("long")).otherwise(xxhash64(key))

  /** Build a serialized Bloom filter of every non-null key in
    * `df(key)`. One distributed scan: each partition fills a partial
    * sketch, partials are OR-merged driver-side (the filter is the
    * aggregation state, bounded by `optimalNumOfBits(expectedItems,
    * fpp)` regardless of row count).
    *
    * `expectedItems` should be the (approximate) DISTINCT key count;
    * overshooting wastes bits, undershooting degrades `fpp`
    * gracefully (never correctness). */
  def build(df: DataFrame, key: Column, expectedItems: Long,
      fpp: Double = 0.03): Array[Byte] = {
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0, 1), got $fpp")
    val numBits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    // catalyst BloomFilterAggregate instead of stat.bloomFilter: the
    // stat path converts every row to a boxed Row and treeAggregates
    // outside codegen (measured ~2x the whole-stage HashAggregate
    // below at 8M keys). The aggregate reads the conf-clamped sizing
    // at EVAL time, so lift the runtime-filter caps (built for the
    // optimizer's own 8MB injected filters) to this build's size for
    // the duration of the job.
    val spark = df.sparkSession
    val itemsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val oldItems = spark.conf.get(itemsConf)
    val oldBits = spark.conf.get(bitsConf)
    spark.conf.set(itemsConf, math.max(oldItems.toLong, expectedItems))
    spark.conf.set(bitsConf, math.max(oldBits.toLong, numBits))
    try {
      // the hash is PRE-PROJECTED so the whole-stage-codegen scan
      // stage computes it and the (interpreted) aggregate update only
      // reads a long — feeding keyHash directly as the aggregate
      // child would evaluate WHEN+xxhash64 interpreted per row
      val hashed = df.select(keyHash(key).as("__h"))
      val agg = ColumnBridge.column(new BloomFilterAggregate(
          ColumnBridge.expression(col("__h")),
          Literal(expectedItems), Literal(numBits))
        .toAggregateExpression())
      val bytes = hashed.select(agg.as("__bf")).head().getAs[Array[Byte]](0)
      // the aggregate returns null over zero non-null keys: an empty
      // store legitimately has an empty filter
      if (bytes != null) bytes
      else serialize(BloomFilter.create(expectedItems, numBits))
    } finally {
      spark.conf.set(itemsConf, oldItems)
      spark.conf.set(bitsConf, oldBits)
    }
  }

  /** The codegen'd membership probe: true if `key` MIGHT be in the
    * set `bloom` was built over, false if it DEFINITELY is not.
    * Returns null for a null key (bloom membership of nothing is not
    * a fact either way) — callers deciding keep/drop on it should
    * wrap in `coalesce(..., lit(false))` to route null keys down
    * their exact path. */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType),
      ColumnBridge.expression(keyHash(key))))

  /** Broadcast the serialized filter once per session — at store scale
    * (tens to hundreds of MB) this is MANDATORY: the literal form above
    * ships the bytes inside every task binary of every probing stage
    * and re-hashes them in every driver-side plan canonicalization
    * (measured +2-8s per job at just 8MB), while a broadcast is
    * torrent-distributed once per executor and referenced by pointer.
    * Deserialization happens here, once, driver-side. */
  def broadcastFilter(spark: SparkSession, bloom: Array[Byte]): Broadcast[BloomFilter] =
    spark.sparkContext.broadcast(BloomFilter.readFrom(bloom))

  /** [[mightContain]] over a [[broadcastFilter]] — identical
    * semantics (null key probes null), codegen'd probe, no literal. */
  def mightContain(bloom: Broadcast[BloomFilter], key: Column): Column =
    ColumnBridge.column(BloomProbeExpr(bloom,
      ColumnBridge.expression(keyHash(key))))

  /** Union two filters built with the SAME expectedItems/fpp (bitwise
    * OR of their bit arrays) — the append path for a growing store:
    * merge the new batch's filter instead of rebuilding over all of
    * history. Throws IncompatibleMergeException on mismatched
    * geometry. Saturation note: a filter sized for N keys holding
    * k·N keys has roughly fpp^(1/k)-ish behavior — degraded
    * precision, still zero false negatives, so correctness holds and
    * only exact-check traffic grows; re-size on the next full
    * rebuild. */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val bf = BloomFilter.readFrom(a)
    bf.mergeInPlace(BloomFilter.readFrom(b))
    serialize(bf)
  }

  /** Persist a filter next to its store (any Hadoop-visible scheme —
    * file://, hdfs://, s3a://), so each refresh loads ~megabytes
    * instead of re-scanning the history. */
  def save(spark: SparkSession, bloom: Array[Byte], path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(bloom) finally out.close()
  }

  /** Load a filter persisted by [[save]], validating it deserializes
    * as a sketch BloomFilter before handing the bytes back. */
  def load(spark: SparkSession, path: String): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](64 * 1024)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    BloomFilter.readFrom(bytes) // contract check: fail loudly here, not mid-query
    bytes
  }

  private def serialize(bf: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }
}
