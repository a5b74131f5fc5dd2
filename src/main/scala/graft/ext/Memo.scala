package graft.ext

import org.apache.spark.sql.SparkSession

/** The one operator memo: every per-corpus artifact an operator builds
  * once and reuses across a session's queries (pair tables, trained
  * models, scored frames, probe fractions) lives in this single store,
  * keyed by (family, session, key).
  *
  * Entries are bound to their session by reference — a DataFrame from
  * another or a stopped session would fail or serve stale plans — and
  * entries of stopped sessions are swept on every access, so a JVM that
  * creates and stops many sessions retains none of them.
  *
  * There is exactly one cold sweep, [[clearAll]]: it drops every entry
  * AND every persisted block, so no memo can outlive its blocks and no
  * inner persist of a build (shingle tables, signature frames,
  * label-propagation generations) can be served warm to a pass that
  * believes it is cold. Operators therefore persist with a plain
  * `persist(MEMORY_AND_DISK)` and register nothing. */
private[graft] object Memo {

  // TrieMap.getOrElseUpdate evaluates the build OUTSIDE any lock, so a
  // build may itself read or fill other entries (clusterLabelsCached →
  // jaccardPairsCached, the IVF-PQ index → centroids); racing builds of
  // one key keep the first value stored
  private val store =
    scala.collection.concurrent.TrieMap[(String, SparkSession, Any), Any]()

  /** A typed view of one operator family's entries. */
  final case class Family[K, V](name: String) {
    def get(spark: SparkSession, key: K)(build: => V): V = {
      sweepStopped()
      store.getOrElseUpdate((name, spark, key), build).asInstanceOf[V]
    }

    def peek(spark: SparkSession, key: K): Option[V] =
      store.get((name, spark, key)).map(_.asInstanceOf[V])

    def keys(spark: SparkSession): Seq[K] = store.keys.collect {
      case (n, s, k) if n == name && (s eq spark) => k.asInstanceOf[K]
    }.toSeq
  }

  private def sweepStopped(): Unit =
    store.keys.foreach { k =>
      if (k._2.sparkContext.isStopped) store.remove(k)
    }

  /** The cold sweep: drop every memo entry, every cached Dataset, every
    * persisted RDD and the bounded streaming runs' memory sinks — the
    * no-operator-state posture of a fresh session. Write-once fixture
    * layouts (bucketed and partitioned tables) are files, not memo
    * entries, and survive. */
  def clearAll(spark: SparkSession): Unit = {
    store.clear()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    graft.streaming.Streams.dropBoundedSinks(spark)
  }
}
