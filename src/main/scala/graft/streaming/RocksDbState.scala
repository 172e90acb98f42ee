package graft.streaming

import org.apache.spark.sql.SparkSession

/** The state store every graft `transformWithState` processor runs on.
  * Each processor's entry point calls [[configure]] on its input's
  * session before it builds the stateful plan.
  *
  *  - The provider is forced to RocksDB: `transformWithState` fails at
  *    query start on any other provider.
  *  - Changelog checkpointing is turned on unless the session already
  *    holds a value for it (`false` included, so an operator can opt
  *    out). Each commit then writes one `<version>.changelog` file, and
  *    RocksDB takes a snapshot (`<version>.zip` plus its SST copies)
  *    only every `minDeltasForSnapshot` versions (Spark's default: 10)
  *    and uploads it from the maintenance thread, instead of taking and
  *    uploading one on the task thread at every commit. The exception
  *    is a commit that created a column family (a new query's first):
  *    Spark snapshots it on the task thread. Spark loads a checkpoint
  *    written in either mode under the other.
  */
object RocksDbState {

  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val Provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  /** Read by Spark's `RocksDBConf`, not declared in `SQLConf`, so
    * `conf.getOption` returns `None` until someone sets it.
    */
  val ChangelogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  def configure(spark: SparkSession): Unit = {
    if (!spark.conf.getOption(ProviderKey).contains(Provider)) spark.conf.set(ProviderKey, Provider)
    if (spark.conf.getOption(ChangelogKey).isEmpty) spark.conf.set(ChangelogKey, "true")
  }
}
