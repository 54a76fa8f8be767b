package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import graft.ops.{Ingest, PriceRequest, Pricing, PricingServer, PricingService}
import graft.streaming.DailyIngest
import graft.tables.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The two serving workloads. */
object Serving {
  import Main._
  import Main.Run

  /** q13's request derivation for every customer: persons = custkey%4+1,
    * m² = 20+custkey%180, region via nation ⋈ region.
    */
  def customers(spark: SparkSession, dir: String): IndexedSeq[Customer] = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
      .orderBy("c_custkey").collect().toIndexedSeq
      .map { row =>
        val k = row.getLong(0)
        Customer(k, row.getString(1), (k % 4 + 1).toInt, (20 + k % 180).toInt)
      }
  }

  /** Build the pricing state and a server on it; return when the server
    * has answered its first request.
    */
  def startState(run: Run, dir: String): (PricingService, PricingServer) = {
    val svc = run.trace.span("service.build", "service") { PricingService.build(run.spark, dir) }
    val srv = new PricingServer(svc)
    probe(srv.port)
    (svc, srv)
  }

  private def probe(port: Int): Unit = {
    val c = new Clients(1, 0, IndexedSeq(Customer(0, "ASIA", 1, 20)), Target(0, port))
    while (c.completed.get == 0) Thread.sleep(1)
    c.stop()
  }

  /** Let the clients run until their throughput levels off: two
    * consecutive 0.5 s windows within 10% of each other, 1 s to 6 s.
    */
  def warmUp(clients: Clients): Unit = {
    val t0 = System.nanoTime()
    var prev = -1.0
    var level = false
    while (!level && System.nanoTime() - t0 < 6e9) {
      val c0 = clients.completed.get
      Thread.sleep(500)
      val rate = (clients.completed.get - c0).toDouble
      level = System.nanoTime() - t0 >= 1e9 && prev > 0 && math.abs(rate - prev) <= 0.1 * prev
      prev = rate
    }
  }

  /** Record replies for `window` seconds; return the window's length. */
  def record(clients: Clients, window: Double)(during: => Unit): Double = {
    val t0 = System.nanoTime()
    clients.recording = true
    during
    val rest = (window * 1e9 - (System.nanoTime() - t0)).toLong
    if (rest > 0) Thread.sleep(rest / 1000000, (rest % 1000000).toInt)
    clients.recording = false
    (System.nanoTime() - t0) / 1e9
  }

  /** q13's batch price per customer key, on the data in `dir`. */
  def batchPrices(spark: SparkSession, dir: String): Map[Long, Double] =
    Pricing.priceBatch(spark, dir).select("c_custkey", "price").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Each recorded reply with what it should have been, for `run.py`
    * to count: [expected status, status, price served, q13's batch price
    * for that customer on the state that answered]. An incomplete body
    * expects 400 and no price.
    */
  def replyOutcomes(run: Run, replies: Seq[Reply], custs: IndexedSeq[Customer],
                    expected: Int => Map[Long, Double]): Unit =
    run.out("replies") = replies.map { r =>
      if (r.cust < 0) Seq(400, r.status, null, null)
      else Seq(200, r.status, price(r.price), expected(r.gen).get(custs(r.cust).key).getOrElse(null))
    }

  private def price(p: Double): Any = if (p.isNaN) null else p

  /** Latency samples (ms) of the replies answered inside the window. */
  def reportReplies(run: Run, replies: Seq[Reply], window: Double, clients: Clients): Unit = {
    def ms(rs: Seq[Reply]) = rs.map(r => (r.endNs - r.startNs) / 1e6)
    run.out("latency_ms") = ms(replies)
    if (run.trace.enabled) {
      val (paused, traced) = replies.partition(r => run.trace.pausedAt(r.startNs))
      run.out("p50_traced_ms") = median(ms(traced))
      run.out("p50_paused_ms") = median(ms(paused))
    }
    run.out("window_s") = window
    run.out("ops") = replies.size
    run.trace.count("server.status_2xx", replies.count(r => r.status / 100 == 2).toDouble)
    run.trace.count("server.status_4xx", replies.count(r => r.status / 100 == 4).toDouble)
    run.trace.count("server.status_5xx", replies.count(r => r.status / 100 == 5).toDouble)
    run.trace.count("client.requests", clients.completed.get.toDouble)
    run.trace.count("client.connections", clients.connections.get.toDouble)
  }

  /** Nanoseconds per direct `PricingService.price` call on the clients'
    * request mix (traced runs).
    */
  def directPriceNs(run: Run, svc: PricingService, custs: IndexedSeq[Customer]): Unit =
    if (run.trace.enabled) {
      val reqs = custs.map(c => PriceRequest(c.region, c.persons, c.m2))
      var sink = 0.0
      for (_ <- 0 until 5) reqs.foreach(r => sink += svc.price(r)) // JIT warm-up
      val (_, s) = seconds { for (_ <- 0 until 20) reqs.foreach(r => sink += svc.price(r)) }
      run.trace.count("service.price_ns", s * 1e9 / (20.0 * reqs.size))
      run.out("price_checksum") = sink // keeps the calls observable
    }

  /** The two sub-plans `PricingService.build` runs, called directly
    * (traced runs), and the table reads they start from.
    */
  def directBuildParts(run: Run, dir: String): Unit =
    if (run.trace.enabled) {
      val t = run.trace
      t.span("tables.read", "tables") {
        Tables.customer(run.spark, dir); Tables.nation(run.spark, dir)
        Tables.region(run.spark, dir); Tables.orders(run.spark, dir); Tables.events(run.spark, dir)
      }
      t.span("pricing.modulation", "pricing.modulation") { Pricing.modulationScalar(run.spark, dir).collect() }
      t.span("pricing.alpha", "pricing.alpha") { Pricing.regionAlpha(run.spark, dir).collect() }
    }

  /** `price_serve`: closed-loop `/price` load on one pricing state. */
  def priceServe(run: Run): Unit = {
    val dir = run.data
    val setups = (1 to run.setupReps).map(_ => seconds((customers(run.spark, dir), startState(run, dir))))
    run.out("setup_s") = setups.map(_._2)
    setups.init.foreach(_._1._2._2.close())
    val (custs, (svc, srv)) = setups.last._1
    run.phase("setup")
    val clients = new Clients(Runtime.getRuntime.availableProcessors(), run.seed, custs, Target(0, srv.port))
    warmUp(clients)
    run.phase("warmup")
    // traced runs alternate traced and paused seconds
    val window = record(clients, run.seconds) {
      val t0 = System.nanoTime()
      var traced = true
      while (run.trace.enabled && System.nanoTime() - t0 < run.seconds * 1e9) {
        run.trace.pause(!traced)
        traced = !traced
        Thread.sleep(math.min(1000L, ((run.seconds * 1e9 - (System.nanoTime() - t0)) / 1e6).toLong.max(0L)))
      }
      run.trace.pause(false)
    }
    run.phase("window")
    clients.stop()
    val replies = clients.replies
    reportReplies(run, replies, window, clients)

    // batch unit: a new server on the built state, until its first reply
    run.out("batch_ms") = (1 to 20).map { _ =>
      val (s, dt) = seconds { val s = new PricingServer(svc); probe(s.port); s }
      s.close()
      dt * 1e3
    }
    srv.close()
    run.phase("batch")
    directPriceNs(run, svc, custs)
    directBuildParts(run, dir)
    val expected = batchPrices(run.spark, dir)
    replyOutcomes(run, replies, custs, _ => expected)
    run.phase("check")
  }

  /** Hard-link a fixture table file into `dir` (no copy, same bytes). */
  private def linkTable(from: String, dir: Path, name: String): Unit =
    Files.createLink(dir.resolve(s"$name.parquet"), Path.of(from, s"$name.parquet"))

  private val StateTables = Seq("customer", "nation", "region", "orders")

  private def partFiles(events: Path): Seq[Path] =
    Files.list(events).iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq.sorted

  /** `daily_refresh`: a working copy that holds back the last days of
    * `events` takes one day per cycle while the `/price` clients keep
    * running. A cycle appends the day's raw batch, aggregates that day
    * through `DailyIngest.backfill`, loads it idempotently with
    * `Ingest.loadDailyPartitioned`, rebuilds the pricing state from the
    * working copy, and moves the clients to a server on the new state.
    * Traced runs add the warehouse leg ([[Catalog]]): a cold
    * `Prestage.run` before set-up and a query pass after the window.
    */
  def dailyRefresh(run: Run): Unit = {
    val spark = run.spark
    val t = run.trace
    val warehouse = run.opts("warehouse")
    val raw = spark.read.parquet(s"${run.data}/events.parquet")
    run.phase("session")
    val days = raw.select(to_date(col("ts")).as("d")).distinct().orderBy(col("d").desc)
      .limit(HeldBackDays).collect().map(_.getDate(0)).sorted(Ordering.by[java.sql.Date, Long](_.getTime)).toIndexedSeq

    // The base table and every appended day go through the same Spark
    // writer, so the events directory holds one physical schema.
    def workingCopy(rep: Int): Path = {
      val dir = run.work.resolve(s"refresh$rep")
      Files.createDirectories(dir)
      StateTables.foreach(linkTable(run.data, dir, _))
      val day = to_date(col("ts"))
      raw.filter(day < days.head).write.parquet(s"$dir/events.parquet")
      raw.filter(day >= days.head).withColumn("day", day.cast("string"))
        .write.partitionBy("day").parquet(s"$dir/held")
      dir
    }

    // append, aggregate and load one held-back day, then rebuild the
    // pricing state from the working copy
    def refresh(dir: Path, day: java.sql.Date): PricingService = {
      t.span("ingest.append", "ingest.append") {
        spark.read.parquet(s"$dir/held/day=$day").write.mode("append").parquet(s"$dir/events.parquet")
      }
      val batch = t.span("ingest.daily_agg", "ingest.daily_agg") {
        val b = DailyIngest.backfill(spark, dir.toString, day, day).withColumnRenamed("d", "date")
        b.queryExecution.executedPlan
        b
      }
      t.span("ingest.load", "ingest.load") {
        Ingest.loadDailyPartitioned(spark, batch, s"$dir/daily")
      }
      t.span("service.build", "service") { PricingService.build(spark, dir.toString) }
    }

    // the nightly job's cold index build over the warehouse; it and the
    // query pass after the window run in traced runs only, as together
    // they take longer than the serving window itself
    if (t.enabled) Catalog.prestage(run, warehouse)
    run.phase("prestage")
    val setups = (1 to run.setupReps).map { rep =>
      seconds {
        val dir = workingCopy(rep)
        (dir, customers(spark, dir.toString), startState(run, dir.toString))
      }
    }
    run.out("setup_s") = setups.map(_._2)
    setups.init.foreach(_._1._3._2.close())
    val (dir, custs, (svc0, srv0)) = setups.last._1
    run.phase("setup")
    val events = dir.resolve("events.parquet")
    val n = Runtime.getRuntime.availableProcessors()
    val clients = new Clients(n, run.seed, custs, Target(0, srv0.port))
    // untimed (and untraced) cycles on a spare copy while the clients
    // run, so the timed cycles do not start on the JIT's slope
    t.pause(true)
    val spare = workingCopy(0)
    days.take(WarmCycles).foreach(refresh(spare, _))
    t.pause(false)
    warmUp(clients)
    run.phase("warmup")

    var svc = svc0
    val servers = mutable.ArrayBuffer(srv0)
    val files = mutable.ArrayBuffer(partFiles(events))
    val cycles = mutable.ArrayBuffer.empty[Double]
    val window = record(clients, run.seconds) {
      val t0 = System.nanoTime()
      // at least three cycles, so the median is over more than one
      while (cycles.size < days.size &&
          (System.nanoTime() - t0 < run.seconds * 1e9 || cycles.size < 3)) {
        val gen = cycles.size + 1
        val day = days(gen - 1)
        t.pause(gen % 2 == 0) // traced runs trace every other cycle
        val c0 = System.nanoTime()
        t.span("refresh.cycle") {
          svc = refresh(dir, day)
          t.span("refresh.swap") {
            servers += new PricingServer(svc)
            clients.target = Target(gen, servers.last.port)
            while (!clients.firstReplyNs.containsKey(gen)) Thread.sleep(1)
          }
        }
        cycles += (clients.firstReplyNs.get(gen) - c0) / 1e9
        files += partFiles(events)
        // retire the previous server once every client has left it
        while (clients.moved(gen) < n) Thread.sleep(1)
        servers(gen - 1).close()
      }
      t.pause(false)
    }
    run.phase("window")
    clients.stop()
    servers.last.close()
    val replies = clients.replies
    reportReplies(run, replies, window, clients)
    run.out("batch_ms") = cycles.map(_ * 1e3)
    run.out("refresh_days") = days.take(cycles.size).map(_.toString)
    run.out("refresh_dir") = dir.toString
    t.count("ingest.files", files.last.size.toDouble)
    if (t.enabled) {
      Catalog.pass(run, warehouse)
      run.phase("catalog")
    }
    directPriceNs(run, svc, custs)
    directBuildParts(run, dir.toString)
    run.phase("direct")

    // each generation's data: the fixed tables plus the events files
    // the working copy held when that generation's state was built; the
    // generations' batch prices are computed concurrently
    val expected = replies.map(_.gen).distinct.map { gen =>
      val check = run.work.resolve(s"check$gen")
      Files.createDirectories(check.resolve("events.parquet"))
      StateTables.foreach(linkTable(dir.toString, check, _))
      files(gen).foreach(f => Files.createLink(check.resolve("events.parquet").resolve(f.getFileName), f))
      gen -> Future(batchPrices(spark, check.toString))
    }.map { case (gen, f) => gen -> Await.result(f, Duration.Inf) }.toMap
    replyOutcomes(run, replies, custs, expected)
    run.phase("check")
  }
}
