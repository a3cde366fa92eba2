package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Serving-layer semantics as DataFrame ops (SURVEY.md §2.2 P6/P7,
  * §2.6, §2.1 S10):
  *
  *  - [[pointLookup]] ⇔ DynamoDB `query` with
  *    `KeyConditionExpression: numero_cartao = :k` returning items in
  *    sort-key order (`lambda_app/api/function.py:38-46`,
  *    `realtime.py:220-221`).
  *  - [[scanAll]] ⇔ DynamoDB full `scan` (`api/function.py:31`).
  *  - [[withTtl]] ⇔ the consumer's `TTL = now + 30d` stamping
  *    (`consumer/function.py:12`); here the TTL anchors on event time so
  *    the result is deterministic and oracle-checkable.
  *
  * Scale: a point lookup compiles to a Filter pushed into the parquet
  * scan (`PushedFilters: [EqualTo(user_id,...)]`) — with partitioned or
  * bucketed data Catalyst prunes to the matching files only, which is the
  * honest cluster analog of a KV read.
  */
object Serving {

  val TtlSeconds: Long = 30L * 24 * 3600 // consumer/function.py:12

  def pointLookup(df: DataFrame, keyCol: String, key: Long, sortCol: String): DataFrame =
    df.filter(col(keyCol) === lit(key)).orderBy(col(sortCol))

  def scanAll(df: DataFrame): DataFrame = df

  /** Stamp a TTL column: event-time epoch seconds + 30 days. */
  def withTtl(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("ttl", unix_timestamp(col(tsCol)) + lit(TtlSeconds))

  /** In-memory KV table with (partitionKey, sortKey) upserts —
    * last-writer-wins per key like DynamoDB `put_item`
    * (`consumer/function.py:16-25`). The streaming consumer drains each
    * micro-batch into it via [[upsertBatch]] from a `foreachBatch` sink;
    * in production the same hook writes to the external store, so the
    * upsert/idempotency semantics (reprocessed batches overwrite, never
    * duplicate) are what this models.
    */
  class KvStore extends Serializable {
    private val items =
      new java.util.concurrent.ConcurrentHashMap[(String, String), Map[String, String]]()

    def put(pk: String, sk: String, attrs: Map[String, String]): Unit =
      items.put((pk, sk), attrs)

    /** DynamoDB `query`: all items for a partition key, sort-key order. */
    def query(pk: String): Seq[(String, Map[String, String])] = {
      import scala.jdk.CollectionConverters._
      items.asScala.toSeq.collect { case ((p, s), v) if p == pk => (s, v) }
        .sortBy(_._1)
    }

    def size: Int = items.size

    /** Full contents snapshot (spec-side equality between sink paths). */
    def entries: Map[(String, String), Map[String, String]] = {
      import scala.jdk.CollectionConverters._
      items.asScala.toMap
    }
  }

  /** Executor-side client registry for [[upsertPartitions]]. A Spark
    * closure is SERIALIZED per task, so capturing a [[KvStore]] directly
    * would hand every task its own deserialized COPY and the writes
    * would vanish — the classic foreach-into-driver-state trap. The
    * production pattern is what this models instead: tasks carry only a
    * small client KEY (table name / endpoint config) and resolve a
    * per-executor connection from a process-local registry; here the
    * "connection" is the registered store itself.
    */
  object KvClients {
    private val registry =
      new java.util.concurrent.ConcurrentHashMap[String, KvStore]()
    private val ids = new java.util.concurrent.atomic.AtomicLong(0L)

    def register(store: KvStore): String = {
      val id = "kv-" + ids.incrementAndGet()
      registry.put(id, store)
      id
    }

    /** In production: per-executor lazily-built connection pool. */
    def clientFor(id: String): KvStore = {
      val s = registry.get(id)
      require(s != null, s"no KV client registered under $id")
      s
    }

    def unregister(id: String): Unit = registry.remove(id)
  }

  /** foreachBatch body: upsert a micro-batch into `store`. The collect
    * is the driver-side handoff to the external store client (the Lambda
    * consumer's role); batch sizes are micro-batch-bounded.
    */
  def upsertBatch(store: KvStore, pkCol: String, skCol: String)
                 (batch: DataFrame, batchId: Long): Unit = {
    val indexed = batch.columns.zipWithIndex
    batch.collect().foreach { row =>
      val attrs = indexed.map { case (c, i) => c -> String.valueOf(row.get(i)) }.toMap
      store.put(attrs(pkCol), attrs(skCol), attrs)
    }
  }

  /** Partition-parallel foreachBatch body: every partition writes to the
    * KV store directly from its executor through a [[KvClients]] client
    * — no driver collect, no driver memory bound, writes scale with the
    * partition count. This is the 100 TB-shaped sink; [[upsertBatch]]
    * stays as the bounded-micro-batch driver-handoff demo. Same
    * last-writer-wins upsert semantics (KvStoreSpec asserts both paths
    * produce identical store contents).
    */
  def upsertPartitions(clientId: String, pkCol: String, skCol: String)
                      (batch: DataFrame, batchId: Long): Unit = {
    val indexed = batch.columns.zipWithIndex
    batch.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val client = KvClients.clientFor(clientId)
      rows.foreach { row =>
        val attrs = indexed.map { case (c, i) => c -> String.valueOf(row.get(i)) }.toMap
        client.put(attrs(pkCol), attrs(skCol), attrs)
      }
    }
  }
}
