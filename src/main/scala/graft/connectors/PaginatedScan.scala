package graft.connectors

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Partitioned scan machinery for vector-DB sources (SURVEY §2.1).
  *
  * Every reference connector is one of three scan shapes; each maps to
  * a Spark pattern that keeps the fetch distributed:
  *
  *  - **Id-sharded fetch** (Pinecone `fetch` by id batch,
  *    `pinecone_export.py:501-599`): enumerate ids (driver or
  *    distributed), shard them across partitions, `mapPartitions`
  *    fetches each shard with adaptive batch shrink (B3).
  *  - **Offset pagination** (Chroma limit/offset,
  *    `chroma_export.py:134-141`): total count → fixed offset ranges →
  *    one partition per range. Embarrassingly parallel.
  *  - **Continuation tokens** (Qdrant scroll / Astra paging_state /
  *    Vespa continuation, `qdrant_export.py:119-179`): inherently
  *    sequential per shard; parallelism comes from scanning shards
  *    (namespaces/segments) concurrently, one token chain per
  *    partition.
  *
  * The DB client is abstracted as serializable functions so the same
  * machinery drives a real SDK or an in-memory fake (zero-network
  * tests); a DataSource V2 wrapper would reuse these readers verbatim.
  */
object PaginatedScan {

  /** Offset-partitioned scan: `fetchRange(offset, limit)` called once
    * per partition range. `batchesPerPartition` ranges are chained
    * inside each task iterator (streaming, no buffering). */
  def byOffset(spark: SparkSession, schema: StructType, totalCount: Long,
      batchSize: Int)(fetchRange: (Long, Int) => Seq[Row]): DataFrame = {
    val nBatches = math.max(1L, (totalCount + batchSize - 1) / batchSize)
    val offsets = spark.range(nBatches).select((col("id") * batchSize).as("off"))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    offsets.mapPartitions { rows =>
      rows.flatMap(r => fetchRange(r.getLong(0), batchSize).iterator)
    }(enc)
  }

  /** Id-sharded fetch with in-task adaptive batch shrink (B3): ids
    * arrive as a DataFrame (never collected), get hash-distributed
    * into `parallelism` shards, and each task fetches its ids in
    * `batchSize` chunks, shrinking ×2/3 on failure like
    * `pinecone_export.py:545-552`. */
  def byIdShards(ids: DataFrame, idCol: String, schema: StructType,
      batchSize: Int, parallelism: Int)(
      fetchBatch: Seq[String] => Seq[Row]): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(schema)
    ids.select(col(idCol).cast("string"))
      .repartition(parallelism)
      .mapPartitions { rows =>
        val it = rows.map(_.getString(0))
        new Iterator[Row] {
          private var current = batchSize
          private var pending: Iterator[Row] = Iterator.empty
          // Fill-ahead so hasNext is truthful even when a fetch
          // returns no rows for a non-empty id batch (ids deleted
          // from the source since enumeration — routine during a
          // live migration).
          private def fill(): Unit =
            while (!pending.hasNext && it.hasNext) {
              val batch = it.take(current).toSeq
              try pending = fetchBatch(batch).iterator
              catch {
                case _: Exception if current > 1 =>
                  // shrink and retry the same logical range in parts
                  current = math.max(1, current * 2 / 3)
                  pending = batch.grouped(current).flatMap(fetchBatch)
              }
            }
          def hasNext: Boolean = { fill(); pending.hasNext }
          def next(): Row = { fill(); pending.next() }
        }
      }(enc)
  }

  /** Continuation-token chain: one sequential `fetchPage(token)` chain
    * per shard, shards scanned in parallel. `fetchPage` returns
    * (rows, nextToken); None terminates the shard. */
  def byContinuation(spark: SparkSession, schema: StructType, shards: Seq[String])(
      fetchPage: (String, Option[String]) => (Seq[Row], Option[String])): DataFrame = {
    import spark.implicits._
    val enc = org.apache.spark.sql.Encoders.row(schema)
    spark.createDataset(shards).repartition(shards.size)
      .mapPartitions { shardIt =>
        shardIt.flatMap { shard =>
          Iterator.unfold[Seq[Row], Option[Option[String]]](Some(None)) {
            case None => None // chain terminated
            case Some(tok) =>
              val (rows, next) = fetchPage(shard, tok)
              if (rows.isEmpty && next.isEmpty) None
              else Some((rows, next.map(t => Some(t))))
          }.flatten
        }
      }(enc)
  }

  /** S6b id-range enumeration (`pinecone_export.py:266-281`): integer
    * ids [start, end] as strings, distributed. */
  def idRange(spark: SparkSession, start: Long, endInclusive: Long): DataFrame =
    spark.range(start, endInclusive + 1)
      .select(col("id").cast("string").as("id"))

  /** S6d integer-window probe (`pinecone_export.py:303-379`): expand
    * [min-1000, max+10000] windows around observed ids, bounded by
    * `maxTries` — driver-sequential by nature (the reference concedes
    * incompleteness); each window fetch is distributed by the caller. */
  def probeWindows(observedMin: Long, observedMax: Long,
      maxTries: Int = 150): Seq[(Long, Long)] = {
    val lo = math.max(0L, observedMin - 1000)
    val hi = observedMax + 10000
    val step = math.max(1L, (hi - lo) / maxTries)
    (lo until hi by step).map(s => (s, math.min(hi, s + step - 1)))
  }
}
