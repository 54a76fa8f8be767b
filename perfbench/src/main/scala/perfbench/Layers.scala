package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's per-layer report: one value per metric name, 0 for a
  * layer the workload does not exercise. Names match `BENCHMARK.json`.
  */
object Layers {
  val Families: Seq[String] = Seq("q", "s", "d", "t", "m")
  val FamilyMetrics: Seq[String] = Seq("construct_s", "construct_jobs", "plan_s", "execute_s",
    "execute_jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "task_skew")

  /** The staged-index tags `Prestage.run` builds; any other tag is
    * reported under `prestage_s.other`.
    */
  val StageTags: Seq[String] = Seq("ap_families", "ap_prefix", "cc_bands", "cc_labels", "cc_sh",
    "ci_bands", "ci_bloom", "ci_exact", "ci_shingles", "dc_eval", "dc_hot",
    "dc_train", "g71_e0", "g71_e1", "g71_e2", "g71_top", "ivf_assign", "lang_scores",
    "orders_bydate", "orders_stats_index", "orders_zorder", "profile", "rep_graph", "rep_scored",
    "s13_feed")

  def report(run: Main.Run): mutable.LinkedHashMap[String, Double] = {
    val t = run.trace
    val self = t.selfSeconds
    def s(name: String): Double = self.getOrElse(name, 0.0)
    val m = mutable.LinkedHashMap.empty[String, Double]
    val lat = run.out.get("latency_ms").map(_.asInstanceOf[Iterable[Double]]).getOrElse(Nil)
    val priceNs = t.counter("service.price_ns")
    m("server.self_ms") = if (lat.nonEmpty) Main.median(lat) - priceNs / 1e6 else 0.0
    Seq("2xx", "4xx", "5xx").foreach(c => m(s"server.status_$c") = t.counter(s"server.status_$c"))
    val requests = t.counter("client.requests")
    m("client.conn_reuse") = if (requests > 0) 1.0 - t.counter("client.connections") / requests else 0.0
    // per traced call: a traced window traces every other refresh cycle
    def per(name: String, total: Double) = total / math.max(1, t.spanCount(name))
    m("service.price_ns") = priceNs
    m("service.build_s") = per("service.build", s("service.build"))
    m("service.build_jobs") = per("service.build", t.counter("service.jobs"))
    m("pricing.modulation_s") = s("pricing.modulation")
    m("pricing.alpha_s") = s("pricing.alpha")
    m("ingest.append_s") = per("ingest.append", s("ingest.append"))
    m("ingest.daily_agg_s") = per("ingest.daily_agg", s("ingest.daily_agg"))
    m("ingest.load_s") = per("ingest.load", s("ingest.load"))
    m("ingest.bytes_written") = per("ingest.append",
      t.counter("ingest.append.bytes_written") + t.counter("ingest.load.bytes_written"))
    m("ingest.files") = t.counter("ingest.files")
    m("refresh.swap_s") = per("refresh.swap", s("refresh.swap"))
    m("tables.read_s") = s("tables.read")
    m("tables.read_jobs") = t.counter("tables.jobs")
    for (f <- Families; k <- FamilyMetrics) {
      val layer = s"catalog.$f"
      m(s"$layer.$k") = k match {
        case "construct_s" => s(s"$layer.construct")
        case "plan_s" => s(s"$layer.plan")
        case "execute_s" => s(s"$layer.execute")
        case "construct_jobs" => t.counter(s"$layer.construct.jobs")
        case "execute_jobs" => t.counter(s"$layer.execute.jobs")
        case "task_skew" => t.maximum(s"$layer.execute.task_skew")
        case other => t.counter(s"$layer.execute.$other")
      }
    }
    // Staging: the cold prestage, per tag, and index builds inside the
    // catalog's query walls
    m("prestage_s") = run.out.get("prestage_s").map(_.asInstanceOf[Double]).getOrElse(0.0)
    val tags = run.out.get("prestage_tags").map(_.asInstanceOf[Map[String, Double]]).getOrElse(Map.empty)
    StageTags.foreach(tag => m(s"prestage_s.$tag") = tags.getOrElse(tag, 0.0))
    m("prestage_s.other") = tags.filter(kv => !StageTags.contains(kv._1)).values.sum
    m("stage_inwindow_s") = t.counter("stage_inwindow_s")
    Seq("stream.triggers", "stream.trigger_s", "stream.addbatch_s", "stream.walcommit_s")
      .foreach(k => m(k) = t.counter(k))
    m("stream.state_bytes") = t.maximum("stream.state_bytes")
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    m("jvm.gc_s") = gcs.map(_.getCollectionTime).filter(_ > 0).sum / 1e3
    m("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    m("trace.spans") = t.allSpans.size.toDouble
    // the window's median reply while traced against while paused
    val traced = run.out("p50_traced_ms").asInstanceOf[Double]
    val paused = run.out("p50_paused_ms").asInstanceOf[Double]
    m("trace.overhead_pct") = 100.0 * (traced - paused) / paused
    m
  }
}
