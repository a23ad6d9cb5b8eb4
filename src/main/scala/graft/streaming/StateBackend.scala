package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-backend selection for production streams.
  *
  * Spark's default `HDFSBackedStateStoreProvider` keeps each state
  * partition's working map ON-HEAP in the executor — fine for the
  * fixture-scale replays, but at 100 TB the stateful operators
  * (temporal-join version buffers, interval-join symmetric state,
  * dedup key sets, open windows) hold state proportional to keys ×
  * watermark horizon, and heap-resident maps become the first OOM.
  * The bundled RocksDB provider (`rocksdbjni` ships with Spark) keeps
  * state on local disk with a bounded block cache, which is the
  * backend a production deployment of the long-running INSERT path
  * should run.
  *
  * The provider is a SESSION conf captured by each query's CLONED
  * session at `start()` (and persisted into its checkpoint), so the
  * scoped helper here pins it for exactly the queries started inside
  * `body` — the same restore-after-start pattern as
  * `StreamReplay.withNarrowState`. Semantics are provider-independent
  * (`StateBackendSpec` replays the same stateful operators under both
  * and asserts identical output); only the memory/disk profile
  * changes, so the engine defaults to Spark's default provider and
  * leaves the switch to the deployment.
  */
object StateBackend {

  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` — which must START its streaming queries inside —
    * with the state-store provider pinned; restores the previous
    * session value after (running queries keep their cloned conf). */
  def withProvider[T](spark: SparkSession, provider: String)(body: => T): T = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, provider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
  }

  def withRocksDb[T](spark: SparkSession)(body: => T): T =
    withProvider(spark, RocksDb)(body)
}
