package graft.ops

import graft.llm.{Curation, Dedup, GraphAnn, Similarity, TextStats}
import graft.streaming.StreamCluster
import graft.tables.Tables
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Staging-format sources the reference exercises around its warehouse:
  * CSV extracts re-read with an explicit dtype map (reference
  * `0_insert_conso_an_ville_in_bq.py:43-47,94-98` — `pd.read_csv(dtype=
  * {...})` / `to_csv` staging) and catalog-managed tables (reference
  * `README.md:72-74` — `bq mk --table` DDL before any load).
  *
  * Both run the full write → re-read round trip so the declared-schema
  * read path is exercised against real files, not just parquet footers.
  */
object Staging {

  /** Base dir for PER-RUN scratch (CSV/JSON round trips, stream feeds,
    * streaming checkpoints). Memory-backed (`/dev/shm`) when available:
    * streaming checkpoint commits fsync every trigger, and on a host
    * under an external I/O wave those fsyncs inflated trigger latency
    * ~6× on identical code (round 8: s26 3.9→24.1 s), flapping the
    * bench gate. Scratch here is never recovery-durable across
    * processes — a run that dies restarts from its sources — so tmpfs
    * is semantically safe; a production deployment points checkpoints
    * at durable storage via its own config, not this dev-harness path.
    * Override with SPARK_GRAFT_SCRATCH_BASE. Staged cross-process
    * INDEXES stay on [[IndexRoot]] — they are the artifacts meant to
    * outlive a run and can be large.
    */
  private[graft] lazy val scratchBase: String = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SCRATCH_BASE", {
      val shm = new java.io.File("/dev/shm")
      // capacity gate: containers commonly mount /dev/shm at 64 MB, and
      // stream feeds + checkpoints + CSV/JSON round trips landing on a
      // tiny tmpfs would ENOSPC mid-run — an environment-dependent
      // failure the plain /tmp path never had. Only prefer tmpfs when
      // it can actually hold a run's scratch (a few GB at the bench SF).
      val minBytes = 4L << 30
      if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= minBytes)
        "/dev/shm/graft_scratch"
      else IndexRoot
    })
    // tmpfs is RAM: reap dead runs' scratch once per JVM, or repeated
    // runs accumulate until the machine swaps. The same pass reaps the
    // half-written index copies of killed index builds. Only entries of
    // the exact [[stagePath]] shape (tag_<16-hex-digest>_p<pid>) or the
    // index build's tmp shape (<index dir>.tmp_p<pid>) whose process is
    // gone — a live concurrent run is never touched, and a shared
    // SPARK_GRAFT_SCRATCH_BASE dir's unrelated files (which a looser
    // `.*_p<digits>` matched) are never destroyed.
    val deadRun = """^[A-Za-z0-9][A-Za-z0-9_]*_(?:[0-9a-f]{16}|e[0-9a-f]{16}_b[0-9a-f]{12}\.tmp)_p(\d+)$""".r
    Seq(base, IndexRoot).distinct.foreach { root =>
      Option(new java.io.File(root).listFiles()).foreach(_.foreach { f =>
        f.getName match {
          case deadRun(pid)
              if pid.toLong != ProcessHandle.current().pid() &&
                !ProcessHandle.of(pid.toLong).isPresent =>
            try deleteTree(f) catch { case _: Throwable => () }
          case _ => ()
        }
      })
    }
    base
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree)); f.delete(): Unit
  }

  /** Collision-resistant staging location under [[scratchBase]]: keyed
    * by an md5 digest of the input dir (`abs(hashCode)` can collide
    * across dirs and stays negative at Int.MinValue) plus the JVM's pid,
    * so two concurrent processes staging the same dir never read each
    * other's half-written output.
    */
  private[graft] def stagePath(tag: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    s"$scratchBase/${tag}_${digest}_p${ProcessHandle.current().pid()}"
  }

  /** Root of the staged indexes. Local by construction, so publishing
    * an index is one `rename(2)`.
    */
  private val IndexRoot = "/tmp/graft_stage"

  /** Staged-index tags that one builder writes together, the dataset
    * tables they derive from, directly or through the indexes they
    * read, and `build`, the call that forces them: the builder the
    * queries call, so [[Prestage]] stages exactly what a first query
    * would.
    */
  private[ops] final case class Family(tags: Seq[String], reads: Seq[String],
      build: (SparkSession, String) => Unit)

  /** Every staged-index family. [[Prestage]] builds them in this order;
    * a builder that reads another family's index builds it first
    * (nested, under that index's own lock and tags), so the order only
    * decides which family pays for a shared input.
    */
  private[ops] val Families: Seq[Family] = {
    val docs = Seq("documents")
    Seq(
      Family(Seq("ap_families"), docs, Dedup.contentFamilies(_, _)),
      Family(Seq("cc_sh", "cc_bands"), docs, Dedup.ccIndexPaths(_, _)),
      Family(Seq("rep_scored"), docs, Dedup.repScored(_, _)),
      Family(Seq("rep_graph"), docs, Dedup.repGraph(_, _)),
      Family(Seq("cc_labels"), docs, Dedup.clusterLabelsPath(_, _)),
      Family(Seq("ci_exact", "ci_shingles", "ci_bands", "ci_bloom"), docs, Dedup.corpusIndexPaths(_, _)),
      Family(Seq("ci_exact_gen1"), docs, Dedup.gen1Index(_, _)),
      Family(Seq("ap_prefix"), docs, Dedup.prefixIndex(_, _)),
      Family(Seq("dc_hot", "dc_eval", "dc_train"), docs, Curation.decontamIndex(_, _)),
      Family(Seq("lang_scores"), docs, TextStats.langScoresIndex(_, _)),
      Family(Seq("s13_feed"), docs, StreamCluster.stageFeed(_, _)),
      Family(Seq("ivf_assign"), Seq("embeddings"), Similarity.ivfIndex(_, _)),
      Family(Seq("g71_e0", "g71_e1", "g71_e2", "g71_top"), Seq("embeddings"), GraphAnn.graphIndex(_, _)),
      Family(Seq("orders_zorder"), Seq("orders"), ZOrder.stageZOrdered(_, _)),
      Family(Seq("orders_bydate"), Seq("orders"), ZOrder.stageDateSorted(_, _)),
      Family(Seq("orders_stats_index"), Seq("orders"), ZOrder.statsIndex(_, _)),
      Family(Seq("profile"), Seq("lineitem"), CoreOps.profileIndex(_, _)))
  }

  /** Every declared staged-index tag. */
  private[graft] val IndexTags: Set[String] = Families.flatMap(_.tags).toSet

  /** Build fingerprint mixed into every index path: a digest of the
    * engine's own class files (or jar). Index artifacts are versioned
    * by (input data, INDEX FORMAT) — reusing an artifact staged by an
    * older build whose staging logic differed would silently serve
    * stale semantics. Same build ⇒ same key ⇒ cross-process reuse;
    * recompile ⇒ new key ⇒ rebuild. (Production analog: the format
    * version a table format stamps into its manifests.)
    */
  private lazy val buildKey: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    // digest CONTENT, never (path, mtime): launchers that repackage the
    // classpath per invocation (sbt runMain writes a fresh
    // target/bg-jobs/sbt_<rand>/...jar every run) change the location
    // and mtime of byte-identical code, and an mtime-keyed fingerprint
    // silently disabled cross-process index reuse under exactly the
    // launcher the driver uses. For a jar, hash the file bytes; for a
    // classes directory, hash every class file's bytes in sorted order.
    def digestFile(f: java.io.File): Unit = {
      val in = new java.io.FileInputStream(f)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    def walk(f: java.io.File): Unit =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach(walk)
      else { md.update(f.getName.getBytes("UTF-8")); digestFile(f) }
    val src = getClass.getProtectionDomain.getCodeSource
    if (src != null && src.getLocation != null)
      walk(new java.io.File(src.getLocation.toURI))
    md.digest().take(6).map("%02x".format(_)).mkString
  }

  private lazy val hadoopConf = new Configuration()

  /** The `<tag>_e<key>_b<build>` names of `dir`'s current indexes. */
  private def indexNames(f: Family, dir: String): Seq[String] = {
    val key = Tables.listingKey(hadoopConf, dir, f.reads)
    f.tags.map(t => s"${t}_e${key}_b$buildKey")
  }

  /** Delete this build's staged indexes of `dir`'s current data — the
    * bench's cold-stage mode, which proves the cold staging path by
    * making the prestage phase actually pay each build. Other builds'
    * indexes, per-run scratch and indexes of other data stay; a killed
    * build's `.tmp_p<pid>` copy is left to the dead-run reaper.
    */
  private[graft] def clearEraIndexes(dir: String): Int = {
    val hits = Families.flatMap(indexNames(_, dir)).map(new java.io.File(IndexRoot, _)).filter(_.exists)
    hits.foreach(deleteTree)
    hits.length
  }

  /** Per-tag seconds spent ACTUALLY BUILDING staged indexes in this
    * JVM (cache hits record nothing). Bench drains this around each
    * timed query to split first-touch staging cost (paid once per
    * data era, amortized across every later process of the same
    * build) from the query's own warm cost — the round-6 driver run
    * was cold and the unattributed staging seconds inside d18/s13's
    * timed windows breached caps calibrated on warm references.
    */
  private val buildLog = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  // seconds this thread has logged: a build leaves out its puts' and nested builds'
  private val loggedHere = ThreadLocal.withInitial[Double](() => 0.0)
  private def recordBuild(tag: String, secs: Double): Unit = {
    buildLog.merge(tag, secs, (a, b) => a + b): Unit
    loggedHere.set(loggedHere.get + secs)
  }

  /** Snapshot-and-clear the per-tag index-build seconds accumulated
    * since the last drain.
    */
  private[graft] def drainBuildLog(): Map[String, Double] = {
    val it = buildLog.entrySet().iterator()
    val b = Map.newBuilder[String, Double]
    while (it.hasNext) {
      val e = it.next()
      b += e.getKey -> e.getValue.doubleValue()
      it.remove()
    }
    b.result()
  }

  /** Stages the tags of one family's build ([[indexes]]). */
  private[graft] final class Put private[Staging] (stage: (String, String => Unit) => Unit) {

    /** Stage `df` as `tag`'s index, written as parquet. `df` is built
      * only when the tag is not yet published.
      */
    def apply(tag: String, df: => DataFrame): Unit = stage(tag, df.write.mode("overwrite").parquet(_))

    /** Stage `tag` by `write(dir)`: an index that is not one parquet
      * frame (a serialized sketch, a partitioned feed).
      */
    def files(tag: String)(write: String => Unit): Unit = stage(tag, write)
  }

  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** The staged indexes `tags` of `dir`, built by `build` unless all are
    * already published; returns their locations in the order of `tags`,
    * for the caller to read through [[Tables.parquet]].
    *
    * Staged indexes are deterministic functions of their input tables,
    * so any process of the same build over the same data reuses one
    * build: the nightly pipeline pays the corpus pass once per change
    * to the tables an index reads, not once per JVM. The rules:
    *  - Key. `tags` must be exactly one declared [[Family]]. Its
    *    location is `<tag>_e<key>_b<build>`: the key is
    *    [[Tables.listingKey]] of the tables the family reads,
    *    recomputed on every call (there is no memo, so an append inside
    *    a running JVM is seen at once), and the build is [[buildKey]].
    *  - Family. The family counts as present only when every tag is
    *    published. Otherwise `build` runs and calls `put(tag, df)` (or
    *    [[Put.files]]) once per tag; `put` skips a tag already published
    *    (by a killed build's earlier step or another process), writes
    *    the others and times each write into [[drainBuildLog]]. Work
    *    shared by several tags goes in `build` before the `put`s; other
    *    builders it calls (the indexes this one reads) also go there.
    *    The rest of `build`'s wall time, less the `put`s and the builds
    *    nested in it (which log their own tags), is logged under the
    *    family's first tag, so every second of a build is logged once.
    *  - Lock. Builds of one key are serialized in this JVM by a lock of
    *    that key; a builder that reads another index takes that
    *    index's lock inside its own, in the acyclic order of the
    *    declared dependencies. Reads of a complete family take no lock.
    *  - Publish. The write fills a `<location>.tmp_p<pid>` directory that
    *    is then renamed to the location with a no-replace atomic move,
    *    so a location only ever appears complete. The loser of a race
    *    with another process deletes its copy and adopts the winner's,
    *    which holds the same rows (the files differ only for the
    *    `repartitionByRange` layouts `orders_zorder` and
    *    `orders_bydate`, see [[Prestage]]). A killed build's tmp directory is
    *    removed by the dead-run reaper in [[scratchBase]].
    */
  private[graft] def indexes(dir: String, tags: String*)(build: Put => Unit): Seq[String] = {
    val family = Families.find(_.tags.toSet == tags.toSet).getOrElse(
      throw new IllegalArgumentException(s"undeclared staged-index family: ${tags.mkString(", ")}"))
    val locs = family.tags.zip(indexNames(family, dir).map(n => s"$IndexRoot/$n")).toMap
    def published(tag: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(locs(tag)))
    if (!family.tags.forall(published))
      buildLocks.computeIfAbsent(locs(family.tags.head), _ => new Object).synchronized {
        if (!family.tags.forall(published)) {
          scratchBase: Unit // reap dead runs' tmp copies first
          val (t0, logged0) = (System.nanoTime(), loggedHere.get)
          build(new Put((tag, write) => if (!published(tag)) publish(tag, locs(tag), write)))
          recordBuild(family.tags.head,
            math.max(0.0, (System.nanoTime() - t0) / 1e9 - (loggedHere.get - logged0)))
          val missing = family.tags.filterNot(published)
          require(missing.isEmpty, s"staged-index build left ${missing.mkString(", ")} unpublished")
        }
      }
    tags.map(locs)
  }

  /** [[indexes]] for a one-tag family. */
  private[graft] def index(dir: String, tag: String)(df: => DataFrame): String =
    indexes(dir, tag)(_(tag, df)).head

  private def publish(tag: String, loc: String, write: String => Unit): Unit = {
    import java.nio.file.{Files, FileSystemException, Paths, StandardCopyOption}
    val dst = Paths.get(loc)
    val tmp = Paths.get(s"$loc.tmp_p${ProcessHandle.current().pid()}")
    deleteTree(tmp.toFile)
    val t0 = System.nanoTime()
    write(tmp.toString)
    recordBuild(tag, (System.nanoTime() - t0) / 1e9)
    // rename(2) never replaces a non-empty directory: a published
    // index is never deleted under its readers
    try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE): Unit
    catch { case _: FileSystemException if Files.exists(dst) => deleteTree(tmp.toFile) }
  }

  /** Explicit staging schema — the analog of the reference's dtype map:
    * never inferred, so a malformed extract fails loudly at read time
    * instead of silently shifting types.
    */
  val customerStageSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_mktsegment", StringType),
    StructField("c_acctbal", DoubleType)))

  /** q24 — CSV staging round trip (SURVEY §2 S5): project customer to a
    * CSV staging area, re-read it with [[customerStageSchema]] (schema
    * declared, header not trusted for types), aggregate per segment.
    * Doubles survive the text round trip exactly: Spark writes
    * shortest-round-trip representations and the declared DoubleType
    * parses them back to identical bits, so the oracle (which reads the
    * original parquet) hash-matches.
    *
    * Scale shape: the staging write/read is partition-parallel on both
    * legs (one CSV part per task, no coalesce), and the re-read scan
    * prunes to the aggregation's columns.
    */
  def csvStage(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagePath("csv_customer", dir)
    Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .write.mode("overwrite").option("header", "true").csv(stage)
    spark.read.schema(customerStageSchema).option("header", "true").csv(stage)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
           round(sum("c_acctbal"), 2).as("total_bal"),
           count_distinct(col("c_nationkey")).as("n_nations"))
      .orderBy("c_mktsegment")
  }

  val oracleCsvStage: String =
    """SELECT c_mktsegment, count(*) AS n_cust,
      |  round(sum(c_acctbal), 2) AS total_bal,
      |  count(DISTINCT c_nationkey) AS n_nations
      |FROM customer
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q42 — JSON-lines staging round trip (the third file format next
    * to parquet and CSV, and the wire format of the reference's REST
    * extracts): write an orders extract as JSON lines, read it back
    * with an EXPLICIT schema (`spark.read.json` with inference would
    * scan twice and silently widen types), aggregate. Dates travel as
    * ISO strings in JSON and are re-cast on read — the round trip a
    * real landing zone performs.
    */
  val ordersStageSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", StringType)))

  def jsonStage(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagePath("json_orders", dir)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .write.mode("overwrite").json(stage)
    spark.read.schema(ordersStageSchema).json(stage)
      .withColumn("yr", year(to_date(col("o_orderdate"))).cast("int"))
      .groupBy("o_orderstatus", "yr")
      .agg(count(lit(1)).as("n_orders"),
           round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus", "yr")
  }

  val oracleJsonStage: String =
    """SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS yr,
      |  count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** q63 — corrupt-record quarantine read: the production JSON-feed
    * reality q42's clean round trip skips. Every 13th event's JSON
    * line is deterministically truncated (the last two characters —
    * `"}` after a trailing string field — leave an unterminated
    * string, guaranteed invalid); the read-back runs PERMISSIVE with
    * `columnNameOfCorruptRecord`, good rows aggregate normally and
    * corrupt rows land in a `__quarantined__` bucket carrying only a
    * count. The oracle models the INTENT (exactly the corrupted ids
    * quarantined, everyone else parsed with full fidelity) — a parser
    * that silently accepts a truncated line, drops a good one, or
    * nulls a parsed field breaks the hash. The parsed frame is
    * persisted before the corrupt-column reference (the Spark rule
    * that queries may not reference ONLY the corrupt record column
    * from a raw file scan).
    */
  val QuarantineMod = 13

  def corruptQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagePath("json_corrupt", dir)
    val js = to_json(struct(col("event_id"), col("user_id"), col("value"), col("event_type")))
    Tables.events(spark, dir)
      .withColumn("js", js)
      .select(when(pmod(col("event_id"), lit(QuarantineMod)) === 0,
          expr("substring(js, 1, length(js) - 2)"))
        .otherwise(col("js")).as("line"))
      .write.mode("overwrite").text(stage)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_bad", org.apache.spark.sql.types.StringType)))
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(stage)
      .persist()
    parsed
      .groupBy(when(col("_bad").isNotNull, lit("__quarantined__"))
        .otherwise(col("event_type")).as("bucket"))
      .agg(count(lit(1)).as("n"),
           round(sum("value"), 2).as("good_value"))
      .orderBy("bucket")
  }

  val oracleCorruptQuarantine: String =
    s"""SELECT CASE WHEN event_id % $QuarantineMod = 0 THEN '__quarantined__'
       |            ELSE event_type END AS bucket,
       |  count(*) AS n,
       |  round(sum(CASE WHEN event_id % $QuarantineMod = 0 THEN NULL ELSE value END), 2) AS good_value
       |FROM events
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** q43 — ORC staging round trip: the columnar alternative to parquet
    * (bundled with Spark, predicate pushdown and column pruning both
    * apply), exercised with a pushed filter + pruned projection so the
    * ORC reader's scan-level behavior — not just the format plumbing —
    * is on the oracle's hook. Types survive natively (dates stay
    * dates), unlike the JSON leg.
    */
  def orcStage(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagePath("orc_lineitem", dir)
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate")
      .write.mode("overwrite").orc(stage)
    spark.read.orc(stage)
      .filter(col("l_returnflag") === "R")
      .groupBy(year(col("l_shipdate")).cast("int").as("ship_year"))
      .agg(count(lit(1)).as("n_items"),
           round(sum("l_extendedprice"), 2).as("total_price"),
           round(sum("l_quantity"), 2).as("total_qty"))
      .orderBy("ship_year")
  }

  val oracleOrcStage: String =
    """SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
      |  count(*) AS n_items,
      |  round(sum(l_extendedprice), 2) AS total_price,
      |  round(sum(l_quantity), 2) AS total_qty
      |FROM lineitem
      |WHERE l_returnflag = 'R'
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q44 — small-file compaction: the daily-ingest reality at 100 TB is
    * thousands of tiny files per partition (one per task per
    * micro-batch); listing and opening them dominates scan time long
    * before byte throughput does. This op simulates the problem (events
    * written as 64 splinter files), then compacts with
    * `coalesce(target)` + `sortWithinPartitions(ts)` — a narrow,
    * shuffle-free rewrite that also lays rows out in time order so
    * min/max row-group stats make later time-range scans prunable. The
    * query reads the COMPACTED table; the spec asserts the file count
    * actually collapsed.
    */
  val CompactTarget = 4

  def compact(spark: SparkSession, dir: String): DataFrame = {
    val splintered = stagePath("events_splinter", dir)
    val compacted = stagePath("events_compact", dir)
    Tables.events(spark, dir)
      .repartition(64) // the small-file problem, manufactured
      .write.mode("overwrite").parquet(splintered)
    Tables.parquet(spark, splintered)
      .coalesce(CompactTarget) // narrow: no shuffle, just fewer write tasks
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(compacted)
    Tables.parquet(spark, compacted)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           round(sum("value"), 2).as("total"),
           min(to_date(col("ts"))).as("first_d"),
           max(to_date(col("ts"))).as("last_d"))
      .orderBy("event_type")
  }

  val oracleCompact: String =
    """SELECT event_type, count(*) AS n,
      |  round(sum(value), 2) AS total,
      |  min((ts::TIMESTAMP)::DATE) AS first_d,
      |  max((ts::TIMESTAMP)::DATE) AS last_d
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q45 — schema evolution: a landing zone accumulates extracts whose
    * schema GREW over time (the reference added columns to its extracts
    * across script versions); the reader must see one union schema with
    * nulls where the old files lack the new column. Two generations of
    * an orders extract are staged (v1 without `o_orderpriority`), read
    * back with `mergeSchema`, and aggregated with an explicit
    * null-bucket — the production pattern for evolving parquet lakes
    * without a rewrite.
    */
  def schemaMerge(spark: SparkSession, dir: String): DataFrame = {
    val base = stagePath("orders_evolving", dir)
    val orders = Tables.orders(spark, dir)
    orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$base/gen=1")
    orders.filter(col("o_orderkey") % 2 =!= 0)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$base/gen=2")
    spark.read.option("mergeSchema", "true").parquet(base)
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-schema>")).as("priority"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum("o_totalprice"), 2).as("total"))
      .orderBy("priority")
  }

  val oracleSchemaMerge: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-schema>'
      |            ELSE o_orderpriority END AS priority,
      |  count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q25 — catalog DDL round trip (SURVEY §2 S8): `saveAsTable` into
    * the session catalog (external location so the warehouse stays out
    * of the repo tree), then query it back by NAME through `spark.sql`
    * — the `bq mk` + load + query lifecycle of the reference, with the
    * catalog (not a path string) as the handoff between producer and
    * consumer.
    */
  def catalogRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val loc = stagePath("cat_orders", dir)
    spark.sql("DROP TABLE IF EXISTS graft_orders_cat")
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").option("path", loc).saveAsTable("graft_orders_cat")
    spark.sql(
      """SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS yr,
        |  round(sum(o_totalprice), 2) AS total, count(*) AS n_orders
        |FROM graft_orders_cat
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)
  }

  val oracleCatalog: String =
    """SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS yr,
      |  round(sum(o_totalprice), 2) AS total, count(*) AS n_orders
      |FROM orders
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** q26 — co-located bucketed join (the "bucketing for co-located
    * joins" scale claim, made checkable): orders and customer are
    * written as catalog tables bucketed (and sorted) on the join key,
    * so the sort-merge join consumes each bucket pair directly — NO
    * exchange and no sort on either join side (asserted in PlanSpec).
    * This is the shuffle-once-then-never pattern for a fact table
    * joined repeatedly on the same key at 100 TB: the bucketed layout
    * amortizes the shuffle into the write.
    *
    * The `merge` hint keeps the demo honest at fixture scale (Spark
    * would otherwise broadcast the small side and skip the bucketed
    * path entirely).
    */
  /** The bucketed catalog tables behind q26/q59, written ONCE per
    * process and (dir, [[Tables.listingKey]] of orders and customer),
    * so an append to either table rewrites them — the whole point of bucketing is that the write
    * amortizes the shuffle across every later consumer, so the join
    * and the aggregation share one layout.
    */
  private val bucketedFor = new java.util.concurrent.atomic.AtomicReference[(String, String)](("", ""))
  private def ensureBucketed(spark: SparkSession, dir: String): Unit = bucketedFor.synchronized {
    val data = (dir, Tables.listingKey(spark.sparkContext.hadoopConfiguration, dir, Seq("orders", "customer")))
    if (bucketedFor.get != data) {
      val stage = stagePath("bkt", dir)
      spark.sql("DROP TABLE IF EXISTS graft_orders_bkt")
      spark.sql("DROP TABLE IF EXISTS graft_customer_bkt")
      Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").option("path", s"$stage/orders")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("graft_orders_bkt")
      Tables.customer(spark, dir)
        .select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").option("path", s"$stage/customer")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("graft_customer_bkt")
      bucketedFor.set(data)
    }
  }

  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    ensureBucketed(spark, dir)
    spark.table("graft_orders_bkt")
      .hint("merge")
      .join(spark.table("graft_customer_bkt"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(round(sum("o_totalprice"), 2).as("revenue"),
           count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  val oracleBucketedJoin: String =
    """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue,
      |  count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q59 — shuffle-FREE aggregation on the bucket key: the bucketed
    * scan already provides hash distribution on `o_custkey`, so the
    * per-customer aggregate needs NO exchange at all (plan-asserted:
    * the only exchange is the presentation sort) — the aggregation
    * sibling of q26's zero-exchange join, and the second consumer that
    * makes the amortized bucketed write pay off. At 100 TB this is the
    * daily per-entity rollup over a fact table laid out once on its
    * entity key.
    */
  def bucketedAgg(spark: SparkSession, dir: String): DataFrame = {
    ensureBucketed(spark, dir)
    spark.table("graft_orders_bkt")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
           round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("o_custkey")
  }

  val oracleBucketedAgg: String =
    """SELECT o_custkey, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS revenue
      |FROM orders
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q31 — dynamic partition pruning over a date-partitioned fact
    * table: events staged partitioned by day (the layout a daily
    * ingest produces — SURVEY §2 S2/P5's partition-pruning claim made
    * real), then joined to a filtered date dimension (Mondays only —
    * the filter's values are unknowable until the dimension is
    * evaluated, which is exactly what DPP handles). DPP turns the
    * dimension's broadcast into a runtime partition filter on the fact
    * scan, so only the matching day-partitions are read — at 100 TB
    * that is the difference between scanning a handful of days and
    * scanning years. PlanSpec asserts `dynamicpruning` lands on the
    * fact scan's PartitionFilters.
    */
  def partitionPruned(spark: SparkSession, dir: String): DataFrame = {
    val loc = stagePath("events_bydate", dir)
    val ev = Tables.events(spark, dir)
    ev.withColumn("d", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("d").parquet(loc)
    val fact = Tables.parquet(spark, loc)
    // weekday(d)=0 ⇔ Monday in both engines' chosen spellings
    val dim = ev.select(to_date(col("ts")).as("d")).distinct()
      .filter(weekday(col("d")) === 0)
    fact.join(dim, Seq("d"))
      .groupBy("d", "event_type")
      .agg(count(lit(1)).as("n_events"),
           round(sum("value"), 2).as("total_value"))
      .orderBy("d", "event_type")
  }

  val oraclePartitionPruned: String =
    """SELECT ts::DATE AS d, event_type, count(*) AS n_events,
      |  round(sum(value), 2) AS total_value
      |FROM events
      |WHERE isodow(ts::DATE) = 1
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** q57 — cost-based join reorder (SURVEY §4's one optimizer surface
    * still only implicit): the three star legs are staged as catalog
    * tables, `ANALYZE TABLE … COMPUTE STATISTICS [FOR ALL COLUMNS]`
    * populates row counts + column NDVs, and the query is WRITTEN in
    * the worst order — fact ⋈ mid-dim ⋈ small-dim left-to-right. With
    * `spark.sql.cbo.enabled` + `joinReorder.enabled` (scoped to a
    * child session so the suite's other plans stay on the default
    * optimizer), Catalyst's DP reorder rewrites the tree smallest-
    * first: (customer ⋈ nation) builds the tiny enriched-dim
    * intermediate BEFORE the fact join, instead of dragging every
    * order row through both joins. PlanSpec asserts the reordered
    * shape on the optimized logical plan. At 100 TB this is the
    * difference between an intermediate the size of the fact table
    * and one the size of the customer dim.
    */
  def cboStarJoin(spark: SparkSession, dir: String): DataFrame = {
    val ss = graft.LocalSession.scoped(spark,
      "spark.sql.cbo.enabled" -> "true", "spark.sql.cbo.joinReorder.enabled" -> "true")
    val stage = stagePath("cbo", dir)
    ss.sql("DROP TABLE IF EXISTS graft_orders_cbo")
    ss.sql("DROP TABLE IF EXISTS graft_customer_cbo")
    ss.sql("DROP TABLE IF EXISTS graft_nation_cbo")
    Tables.orders(ss, dir).select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").option("path", s"$stage/orders")
      .saveAsTable("graft_orders_cbo")
    Tables.customer(ss, dir).select("c_custkey", "c_nationkey")
      .write.mode("overwrite").option("path", s"$stage/customer")
      .saveAsTable("graft_customer_cbo")
    Tables.nation(ss, dir).select("n_nationkey", "n_name")
      .write.mode("overwrite").option("path", s"$stage/nation")
      .saveAsTable("graft_nation_cbo")
    ss.sql("ANALYZE TABLE graft_orders_cbo COMPUTE STATISTICS FOR ALL COLUMNS")
    ss.sql("ANALYZE TABLE graft_customer_cbo COMPUTE STATISTICS FOR ALL COLUMNS")
    ss.sql("ANALYZE TABLE graft_nation_cbo COMPUTE STATISTICS FOR ALL COLUMNS")
    ss.sql(
      """SELECT n_name, round(sum(o_totalprice), 2) AS total, count(*) AS n_orders
        |FROM graft_orders_cbo
        |JOIN graft_customer_cbo ON o_custkey = c_custkey
        |JOIN graft_nation_cbo ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)
  }

  val oracleCboStarJoin: String =
    """SELECT n_name, round(sum(o_totalprice), 2) AS total, count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin
}
