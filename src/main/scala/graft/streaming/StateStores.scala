package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store provider selection for streaming queries — the one
  * configuration leg of the 100 TB streaming story the default
  * `HDFSBackedStateStoreProvider` cannot carry: every keyed streaming
  * operator (stream-stream join buffers, native session windows,
  * `flatMapGroupsWithState` SCD-2 state) holds its working state in
  * the executor HEAP under the default provider, so total keyed state
  * is bounded by executor memory. `RocksDBStateStoreProvider` keeps
  * working state on executor-local disk behind a native block cache —
  * keyed state scales to what the disk holds, which is the production
  * answer for million-key sessionization over a 100 TB event stream.
  *
  * Spark reads the provider class from the session conf when a
  * streaming query STARTS, so a scoped set/reset around the drive
  * block pins the provider for exactly that query and leaks nothing
  * to the rest of the gate.
  */
object StateStores {

  /** Spark's bundled RocksDB provider (rocksdbjni ships with the
    * distribution — no extra dependency). */
  val RocksDb: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val key = "spark.sql.streaming.stateStore.providerClass"

  /** Runs `body` with the session's state-store provider set to
    * `provider`, restoring the prior conf after. Streaming queries
    * capture the conf at start, so queries started inside `body` keep
    * the provider for their whole lifetime (gate entries drive their
    * stream to completion inside the block, so the reset never races
    * a running query). Same single-session concurrency bound as
    * [[graft.queries.SessionMemo]]'s refresh: the gate runs queries
    * sequentially; defining
    * streaming queries concurrently on one session would race the
    * conf. */
  def withProvider[T](s: SparkSession, provider: String)(body: => T): T = {
    val prior = s.conf.getOption(key)
    s.conf.set(key, provider)
    try body
    finally prior match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }
}
