package graft.tables

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The driver memos' one store: a map holding its `cap` most recently
  * used entries. Each access is synchronized; callers compute outside
  * the lock, so two that miss at once may both compute, the later put
  * winning.
  */
private[graft] final class Lru[K, V](cap: Int) {
  private val entries = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size > cap
  }

  def get(k: K): Option[V] = entries.synchronized(Option(entries.get(k)))

  def put(k: K, v: V): Unit = entries.synchronized(entries.put(k, v)): Unit

  def keys: Set[K] = entries.synchronized(entries.keySet.asScala.toSet)
}

/** Values derived per [[DataFile]] (a footer span, a scan's partial),
  * one listing per key, for the `cap` most recently used keys. A call
  * keeps the value of each listed file the key's entry holds for the
  * same `basis` (what else the values depend on, e.g. a window start),
  * computes the other listed files in one batch, and leaves the entry
  * holding exactly the listing: a file gone from it is dropped, and a
  * file rewritten in place (another length or mtime) is a new file.
  */
private[graft] final class FileMemo[K, V](cap: Int) {
  private val entries = new Lru[K, (Any, Map[DataFile, V])](cap)

  /** The value of each of `files`; `compute` gets the files the entry
    * does not hold, if any, and returns a value for each.
    */
  def apply(key: K, files: Seq[DataFile], basis: Any = ())(
      compute: Seq[DataFile] => Map[DataFile, V]): Map[DataFile, V] = {
    val held = entries.get(key).collect { case (`basis`, vs) => vs }.getOrElse(Map.empty[DataFile, V])
    val missing = files.filterNot(held.contains)
    val got = if (missing.isEmpty) Map.empty[DataFile, V] else compute(missing)
    val values = files.map(f => f -> held.getOrElse(f, got(f))).toMap
    entries.put(key, (basis, values))
    values
  }
}

/** A driver-side memo of values derived from a dataset's `tables`
  * (centroids, codebooks, merges, the pricing α), one per dataset dir
  * and `variant` (whatever else the value depends on) for the `cap`
  * most recently used, each held for one [[Tables.listingKey]] of those
  * tables: an append to one of them computes the value afresh, as a
  * new JVM would.
  */
final class TablesMemo[V <: AnyRef](cap: Int, tables: String*) {
  private val entries = new Lru[(String, Any), (String, V)](cap)

  /** The value for `dir`'s current data; `compute` runs on a miss. */
  def apply(spark: SparkSession, dir: String, variant: Any = ())(compute: => V): V = {
    val listing = Tables.listingKey(spark.sparkContext.hadoopConfiguration, dir, tables)
    entries.get((dir, variant)).collect { case (`listing`, v) => v }
      .getOrElse { val v = compute; entries.put((dir, variant), (listing, v)); v }
  }

  /** The dataset dirs with an entry. */
  def dirs: Set[String] = entries.keys.map(_._1)
}
