package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge

/** Iterative graph analytics over pair relations — the power-iteration
  * sibling of [[Dedup.connectedComponents]]. The near-dup pair graph
  * (d03) already drives cluster decisions (d11/d12); PageRank adds the
  * CENTRALITY view of the same graph: which documents sit at the core
  * of a duplication neighborhood (heavily-mirrored content — boilerplate
  * hubs, template families) vs its periphery. Training-data curation
  * uses exactly this signal to pick canonical representatives and to
  * down-weight hub content.
  *
  * ALL THREE ops run on the FAMILY-CONTRACTED graph
  * ([[Dedup.contractedPairGraph]]): vertices are exact-content families
  * weighted by size `f`, edges are rep-level verified pairs. The
  * member-level near-dup graph is exactly the blow-up of this graph
  * (each family a clique, each rep edge a complete bipartite bundle),
  * so degrees, ranks, triangle counts and k-core peeling have closed
  * forms over (rep graph, f) — result-EXACT, verified by the unchanged
  * member-level DuckDB oracles. This is the load-bearing 100 TB shape:
  * member-level edge mass grows with the SQUARE of the corpus's
  * duplication factor (the duplication-heavy population is precisely
  * what these ops analyze), while the rep graph is copy-factor-
  * invariant — only the final member fan-out scales with f, and that is
  * the answer's own size.
  *
  * All arithmetic is INTEGER (ranks are fixed-point at [[PrScale]], and
  * every division is a truncating integer division): the recurrence is
  * bit-replayable in any engine — integer sums are order-independent
  * where floating-point sums are not, so the DuckDB oracle can unroll
  * the same iterations textually and hash-match exactly. Truncation
  * leaks < 1 unit (= 10⁻¹² of total mass) per division — irrelevant to
  * the ranking, essential to determinism.
  */
object Graph {

  /** Fixed-point scale: 1 rank unit = 10⁻¹² of total probability mass. */
  val PrScale = 1000000000000L

  /** Fixed power-iteration count — deterministic by construction; on
    * the tiny-diameter near-dup components 8 rounds is far past
    * convergence at damping 0.85.
    */
  val PrIters = 8

  /** d36 — PageRank over the verified near-dup pair graph: vertices =
    * docs in ≥1 d03 pair, edges symmetrized, damping 85/100, teleport
    * mass split evenly. Output: `(doc_id, deg, pr)` with `pr` the
    * fixed-point rank after [[PrIters]] rounds — identical to the
    * member-level recurrence the oracle unrolls.
    *
    * Contraction exactness: members of one family have identical
    * neighborhoods up to the graph automorphism that swaps them, and
    * the integer recurrence commutes with automorphisms, so all `f`
    * members carry ONE rank r_i. The member message sum into family i
    * groups as (f_i−1)·(r_i div d_i) + Σ_{j~i} f_j·(r_j div d_j) —
    * exact integer arithmetic (count × identical term), computed here
    * as a weighted-edge join: cross edges carry weight f_src, each
    * family a self-loop of weight f_i−1. Member degree d_i is the sum
    * of incoming weights.
    *
    * Scale shape, per round: one equi-join of the rep-level weighted
    * edge list against the O(families) rank table, one keyed sum, one
    * left join back to the vertex set — all spillable keyed shuffles,
    * no driver-side per-row work (the driver sequences rounds only).
    * Lineage is cut per round with eager `localCheckpoint` (the d11
    * lesson), AQE is scoped OFF inside the loop and the loop's shuffle
    * width is sized from the measured edge count, exactly as
    * [[Dedup.connectedComponents]] does and for the same measured
    * reason.
    */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val (verts, edges, members) = Dedup.contractedPairGraph(spark, dir)
    val rep = pageRankContracted(verts.toDF("id", "f"), edges.toDF("u", "v"))
    members.join(rep.withColumnRenamed("id", "rep"), Seq("rep"))
      .select(col("doc_id"), col("deg"), col("pr"))
      .orderBy("doc_id")
  }

  /** PageRank on any 2-column undirected pair relation (one row per
    * edge, either direction). Returns `(id, deg, pr)`. The degenerate
    * f = 1 instance of [[pageRankContracted]] — kept as the generic
    * operator surface (and so the spec's reference-model parity test
    * exercises the same weighted loop the contracted path runs).
    */
  def pageRankOnPairs(pairs: DataFrame): DataFrame = {
    val (verts, e0) = unitGraph(pairs)
    pageRankContracted(verts, e0)
  }

  /** A pair relation as an f = 1 contracted graph: `(id, f)` vertices
    * (every endpoint) and `(u, v)` edges.
    */
  private def unitGraph(pairs: DataFrame): (DataFrame, DataFrame) = {
    val e0 = pairs.toDF("u", "v")
    (e0.select(col("u").as("id")).unionByName(e0.select(col("v").as("id")))
      .distinct().withColumn("f", lit(1L)), e0)
  }

  /** The weighted power iteration over a contracted multigraph:
    * `verts` (id, f) with f ≥ 1 member multiplicity, `edges` (u, v)
    * one row per rep edge, either direction. Every vertex must carry
    * f ≥ 2 or ≥ 1 edge (degree-0 singletons are not in the graph).
    */
  private[graft] def pageRankContracted(verts: DataFrame, edges: DataFrame): DataFrame = {
    val (v, wEdges) = weightedLoop(verts, edges)
    val deg = wEdges.groupBy(col("v").as("id")).agg(sum("w").as("deg")).localCheckpoint()
    // n = MEMBER count: teleport mass splits over members, not families
    val n = v.agg(sum("f")).head.getLong(0)
    require(n > 0, "pageRank needs a non-empty graph")
    val tele = (PrScale * 15L / 100L) / n

    var ranks = v.select(col("id"), lit(PrScale / n).as("r")).localCheckpoint()
    for (_ <- 1 to PrIters) {
      val msgs = wEdges
        .join(ranks.withColumnRenamed("id", "u"), Seq("u"))
        .join(deg.toDF("u", "du"), Seq("u"))
        .select(col("v").as("id"), (col("w") * expr("r div du")).as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      ranks = v.select("id")
        .join(msgs, Seq("id"), "left")
        .select(col("id"),
          (lit(tele) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
        .localCheckpoint()
    }
    // ranks/deg are eager checkpoints — the output no longer depends
    // on wEdges' blocks (localCheckpoint RDDs are GC-released when
    // the returned frame dies; nothing persists past this call)
    SessionBridge.rebind(verts.sparkSession,
      ranks.join(deg, Seq("id")).select(col("id"), col("deg"), col("r").as("pr")))
  }

  /** The `(id, f)` vertices and weighted incoming edges `(u, v, w)` of
    * [[pageRankContracted]] and [[lpaContracted]], on a loop session sized
    * by the edge count. Cross edges carry the SOURCE family's size, and
    * each family of size ≥ 2 a self-loop of weight f−1 (the within-family
    * clique), so a vertex's incoming-weight sum is its member degree.
    */
  private def weightedLoop(verts: DataFrame, edges: DataFrame): (DataFrame, DataFrame) = {
    val loop = Dedup.loopSession(verts.sparkSession)
    val v = SessionBridge.rebind(loop, verts.toDF("id", "f")).localCheckpoint()
    val e0 = SessionBridge.rebind(loop, edges.toDF("u", "v"))
    val sym = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
    val wEdges = sym
      .join(v.select(col("id").as("u"), col("f").as("w")), Seq("u"))
      .select(col("u"), col("v"), col("w"))
      .unionByName(v.where(col("f") > 1)
        .select(col("id").as("u"), col("id").as("v"), (col("f") - 1).as("w")))
      .localCheckpoint()
    val sized = Dedup.sizedLoop(loop, wEdges.count())
    (SessionBridge.rebind(sized, v), SessionBridge.rebind(sized, wEdges))
  }

  /** d38 — per-vertex triangle count + local clustering coefficient
    * of the verified near-dup graph: the community-density view (a
    * template family where every mirror matches every other is
    * triangle-dense; a hub-and-spoke of unrelated snippets quoting one
    * document is triangle-free — the signal that separates "true
    * duplicate cluster" from "shared boilerplate star", which decides
    * whether keep-one-per-cluster curation is safe).
    *
    * Contraction closed form, for a member of family i with cross-
    * neighbor mass S_i = Σ_{j~i} f_j and Q_i = Σ_{j~i} C(f_j, 2):
    *   n_tri = C(f_i−1, 2)            (both co-corners in own family)
    *         + (f_i−1)·S_i            (one own-family, one neighbor)
    *         + Q_i                    (two in the SAME neighbor family)
    *         + Σ_{rep-tri {i,j,k}} f_j·f_k   (two DIFFERENT families)
    *   deg   = (f_i−1) + S_i
    * — all exact integer arithmetic over family sizes, so the member-
    * level oracle (which enumerates triangles off the blown-up pair
    * relation with a DIFFERENT join order) hash-matches.
    *
    * Rep-level triangles enumerate with DEGREE-ORDERED edge
    * orientation (each undirected edge directed from its lower
    * (deg, id) endpoint; wedges at the lowest-ordered corner closed by
    * one equi-join) — out-degree under the orientation is O(√m) even
    * on power-law graphs, the classic O(m^1.5) bound. Every step is an
    * equi-join or keyed agg.
    *
    * `clustering = 2·T / (deg·(deg−1))` is a ratio of identical ints
    * in both engines (0.0 pinned where deg < 2) → exact double parity.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val (verts, edges, members) = Dedup.contractedPairGraph(spark, dir)
    val rep = trianglesContracted(verts.toDF("id", "f"), edges.toDF("u", "v"))
    members.join(rep.withColumnRenamed("id", "rep"), Seq("rep"))
      .select(col("doc_id"), col("deg"), col("n_tri"), col("clustering"))
      .orderBy("doc_id")
  }

  /** Triangle counts on any canonical (u < v) pair relation — the
    * degenerate f = 1 instance of [[trianglesContracted]].
    */
  def trianglesOnPairs(pairs: DataFrame): DataFrame = {
    val (verts, e0) = unitGraph(pairs)
    trianglesContracted(verts, e0)
  }

  /** Weighted triangle counting over a contracted multigraph; returns
    * `(id, deg, n_tri, clustering)` at rep level — the member-level
    * values shared by all f members of each family.
    */
  private[graft] def trianglesContracted(verts: DataFrame, edges: DataFrame): DataFrame = {
    val v = verts.toDF("id", "f").localCheckpoint()
    val e0 = edges.toDF("u", "v").localCheckpoint()
    val sym = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
    // cross-neighbor mass per family: S = Σ f_j, Q = Σ C(f_j, 2)
    val nbr = sym.join(v.select(col("id").as("v"), col("f").as("fv")), Seq("v"))
      .groupBy(col("u").as("id"))
      .agg(sum("fv").as("s"), sum(expr("(fv * (fv - 1)) div 2")).as("q"))
    // rep-graph triangle enumeration: orient by (rep degree, id)
    val rdeg = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("d"))
    val keyed = e0
      .join(rdeg.toDF("u", "du"), Seq("u"))
      .join(rdeg.toDF("v", "dv"), Seq("v"))
    val ou = struct(col("du").as("d"), col("u").as("n"))
    val ov = struct(col("dv").as("d"), col("v").as("n"))
    val dirE = keyed.select(
      when(ou < ov, col("u")).otherwise(col("v")).as("src"),
      when(ou < ov, col("v")).otherwise(col("u")).as("dst"),
      when(ou < ov, ov).otherwise(ou).as("dstOrd"))
      .localCheckpoint() // referenced three times below — eager, not lazy persist
    val tri = dirE.as("e1")
      .join(dirE.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dstOrd") < col("e2.dstOrd"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      .join(dirE.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
    // each rep triangle {a,b,c} contributes the PRODUCT of the other
    // two family sizes to every member of each corner family
    val triW = tri
      .join(v.select(col("id").as("a"), col("f").as("fa")), Seq("a"))
      .join(v.select(col("id").as("b"), col("f").as("fb")), Seq("b"))
      .join(v.select(col("id").as("c"), col("f").as("fc")), Seq("c"))
      .select(explode(array(
        struct(col("a").as("id"), (col("fb") * col("fc")).as("w")),
        struct(col("b").as("id"), (col("fa") * col("fc")).as("w")),
        struct(col("c").as("id"), (col("fa") * col("fb")).as("w")))).as("x"))
      .select(col("x.id").as("id"), col("x.w").as("w"))
      .groupBy("id").agg(sum("w").as("t"))
    v.join(nbr, Seq("id"), "left")
      .join(triW, Seq("id"), "left")
      .select(col("id"), col("f"),
        coalesce(col("s"), lit(0L)).as("s"),
        coalesce(col("q"), lit(0L)).as("q"),
        coalesce(col("t"), lit(0L)).as("t"))
      .select(col("id"),
        (col("f") - 1 + col("s")).as("deg"),
        (expr("((f - 1) * (f - 2)) div 2") +
          (col("f") - 1) * col("s") + col("q") + col("t")).as("n_tri"))
      .withColumn("clustering",
        when(col("deg") < 2, lit(0.0))
          .otherwise((col("n_tri") * 2).cast("double") / (col("deg") * (col("deg") - 1))))
  }

  val oracleTriangles: String =
    s"""WITH ${Dedup.pairsCteSql},
       |p2 AS MATERIALIZED (SELECT id_a, id_b FROM pairs),
       |deg AS MATERIALIZED (
       |  SELECT id, count(*) AS deg FROM (
       |    SELECT id_a AS id FROM p2 UNION ALL SELECT id_b FROM p2)
       |  GROUP BY id),
       |tri AS (
       |  SELECT p1.id_a AS a, p1.id_b AS b, q.id_b AS c
       |  FROM p2 p1
       |  JOIN p2 q ON q.id_a = p1.id_b
       |  JOIN p2 r ON r.id_a = p1.id_a AND r.id_b = q.id_b),
       |tn AS (
       |  SELECT n AS id, count(*) AS n_tri
       |  FROM (SELECT unnest([a, b, c]) AS n FROM tri)
       |  GROUP BY 1)
       |SELECT d.id AS doc_id, d.deg,
       |       COALESCE(t.n_tri, 0) AS n_tri,
       |       CASE WHEN d.deg < 2 THEN 0.0::DOUBLE
       |            ELSE (COALESCE(t.n_tri, 0) * 2)::DOUBLE / (d.deg * (d.deg - 1))
       |       END AS clustering
       |FROM deg d LEFT JOIN tn t ON t.id = d.id
       |ORDER BY doc_id""".stripMargin

  /** k for [[kCore]] and the fixed unroll depth of its oracle. Peeling
    * is monotone, so rounds past the fixpoint are no-ops — the engine
    * loop ([[kCoreContracted]]) runs to fixpoint UNCONDITIONALLY; only
    * the gated d36 query path asserts the fixpoint landed within the
    * oracle's fixed textual unroll (the bound is an oracle artifact,
    * never an engine limit — a deep peel chain at scale completes).
    */
  val KCoreK = 3
  val KCoreRounds = 12

  /** d39 — k-core decomposition (k = [[KCoreK]]) of the verified
    * near-dup graph by iterative peeling: repeatedly delete vertices
    * with degree < k (and their incident edges) until none remain;
    * survivors form the k-core, reported with their within-core
    * degree. The graph-density cousin of d38: a mirror family is a
    * dense core; a boilerplate hub-and-spoke star peels away entirely
    * — the standard "is this cluster real or an artifact" screen
    * before keep-one-per-cluster curation.
    *
    * Contraction exactness: all members of a family share a degree, so
    * peeling removes families ATOMICALLY — family-level peeling with
    * weighted degrees (f_i−1) + Σ_{j~i alive} f_j removes exactly the
    * member sets the member-level rounds remove, and the fixpoints
    * coincide. Each round is one keyed weighted-degree agg + two
    * semi-joins over the REP graph, lineage cut by eager
    * `localCheckpoint`, AQE scoped off (the d11 loop discipline).
    */
  def kCore(spark: SparkSession, dir: String): DataFrame = {
    val (verts, edges, members) = Dedup.contractedPairGraph(spark, dir)
    val (rep, rounds) = kCoreContracted(verts.toDF("id", "f"), edges.toDF("u", "v"))
    // oracle-parity guard, QUERY PATH ONLY: the DuckDB replay unrolls
    // KCoreRounds member-level rounds textually; contracted rounds
    // upper-bound member rounds, so rounds ≤ bound ⇒ the oracle's
    // fixed unroll reached the same fixpoint
    require(rounds <= KCoreRounds,
      s"k-core fixpoint took $rounds rounds — raise KCoreRounds (oracle unroll) to match")
    members.join(rep.withColumnRenamed("id", "rep"), Seq("rep"))
      .select(col("doc_id"), col("core_deg"))
      .orderBy("doc_id")
  }

  /** k-core of any canonical pair relation; returns `(id, core_deg)`.
    * Loops to fixpoint unconditionally (no round bound — that guard
    * belongs to the oracle-gated [[kCore]] path only).
    */
  def kCoreOnPairs(pairs: DataFrame): DataFrame = {
    val (verts, e0) = unitGraph(pairs)
    kCoreContracted(verts, e0)._1.select("id", "core_deg")
  }

  /** Weighted k-core peeling over a contracted multigraph. Returns the
    * surviving `(id, f, core_deg)` rep relation and the round count
    * (rounds are data-bounded: every non-final round removes ≥ 1
    * family or ≥ 1 rep edge).
    */
  private[graft] def kCoreContracted(verts: DataFrame, edges: DataFrame): (DataFrame, Int) = {
    val loop = Dedup.loopSession(verts.sparkSession)
    var alive = SessionBridge.rebind(loop, verts.toDF("id", "f"))
      .withColumn("core_deg", lit(0L)).localCheckpoint()
    var es = SessionBridge.rebind(loop, edges.toDF("u", "v")).localCheckpoint()
    var nV = alive.count()
    var nE = es.count()
    var rounds = 0
    var converged = nV == 0L
    while (!converged) {
      val sym = es.unionByName(es.select(col("v").as("u"), col("u").as("v")))
      val cross = sym
        .join(alive.select(col("id").as("u"), col("f").as("w")), Seq("u"))
        .groupBy(col("v").as("id")).agg(sum("w").as("cw"))
      val keep = alive.select("id", "f")
        .join(cross, Seq("id"), "left")
        .select(col("id"), col("f"),
          (coalesce(col("cw"), lit(0L)) + col("f") - 1).as("core_deg"))
        .where(col("core_deg") >= KCoreK)
        .localCheckpoint()
      val es2 = es
        .join(keep.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("id").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
        .localCheckpoint()
      val nV2 = keep.count()
      val nE2 = es2.count()
      converged = nV2 == nV && nE2 == nE
      alive = keep; es = es2; nV = nV2; nE = nE2
      rounds += 1
    }
    // at the fixpoint the converged round's degrees ARE the core
    // degrees (nothing was removed, so they were computed against
    // the final graph)
    (SessionBridge.rebind(verts.sparkSession, alive.select("id", "f", "core_deg")), rounds)
  }

  /** d39's DuckDB replay: [[KCoreRounds]] peel rounds unrolled
    * textually (the per-round degree aggregate bars a recursive CTE);
    * rounds after the fixpoint are no-ops, so the fixed unroll equals
    * the engine's fixpoint. Every round's edge set is
    * `AS MATERIALIZED` — each is referenced three times by the next
    * round (degree + both semi-join sides).
    */
  val oracleKCore: String = {
    val rounds = (1 to KCoreRounds).map { r =>
      s"""v$r AS (
         |  SELECT u AS id FROM e${r - 1} GROUP BY u HAVING count(*) >= $KCoreK),
         |e$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${r - 1} e
         |  JOIN v$r a ON a.id = e.u
         |  JOIN v$r b ON b.id = e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.pairsCteSql},
       |e0 AS MATERIALIZED (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |$rounds
       |SELECT u AS doc_id, count(*) AS core_deg
       |FROM e$KCoreRounds
       |GROUP BY u
       |ORDER BY doc_id""".stripMargin
  }

  /** Fixed synchronous label-propagation rounds for d41 — enough to
    * converge the tiny-diameter near-dup communities; fixed (not
    * to-fixpoint) because synchronous LPA can 2-cycle on bipartite
    * structures, and a fixed unroll is what the oracle can replay.
    */
  val LpaRounds = 4

  /** d41 — label-propagation communities (Raghavan et al. 2007,
    * synchronous variant) over the verified near-dup graph: each
    * vertex starts from its exact-content family representative and
    * repeatedly adopts the most frequent label among its neighbors
    * (ties → smallest label). Where d11's connected components give
    * REACHABILITY clusters, LPA gives DENSITY communities: a chain of
    * weak near-dup links that merges two template families into one
    * CC is split back apart by majority voting — the signal curation
    * wants when keep-one-per-cluster would otherwise collapse
    * unrelated families glued by one bridge document.
    *
    * Vote counting is pure INTEGER (neighbor-label counts), so the
    * rep-level contraction is exact by the same automorphism argument
    * as d36: members of a family share one label every round
    * (initially the family rep by construction), and a member of
    * family i counts (f_i−1) votes for its own label plus f_j for
    * each neighbor family j's label — computed here as the weighted-
    * edge vote with the d36 self-loop construction. Deterministic
    * end to end: integer counts, total tiebreak order, fixed rounds.
    *
    * Scale shape, per round: one equi-join of the weighted rep edges
    * against the O(families) label table, one keyed count, one
    * windowed argmax per vertex — keyed shuffles only, lineage cut per
    * round, AQE scoped off in the loop (the d36/d11 discipline).
    */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val (verts, edges, members) = Dedup.contractedPairGraph(spark, dir)
    val rep = lpaContracted(verts.toDF("id", "f"), edges.toDF("u", "v"))
    val sizes = rep.join(verts.toDF("id", "f"), Seq("id"))
      .groupBy("lab").agg(sum("f").as("comm_size"))
    members.join(rep.withColumnRenamed("id", "rep"), Seq("rep"))
      .join(sizes, Seq("lab"))
      .select(col("doc_id"), col("lab").as("community"), col("comm_size"))
      .orderBy("doc_id")
  }

  /** Synchronous weighted LPA over the contracted multigraph (same
    * vertex/edge contract as [[pageRankContracted]]). Returns
    * `(id, lab)` after [[LpaRounds]] rounds.
    */
  private[graft] def lpaContracted(verts: DataFrame, edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (v, wEdges) = weightedLoop(verts, edges)
    var labels = v.select(col("id"), col("id").as("lab")).localCheckpoint()
    for (_ <- 1 to LpaRounds) {
      val votes = wEdges
        .join(labels.withColumnRenamed("id", "u"), Seq("u"))
        .groupBy(col("v").as("id"), col("lab")).agg(sum("w").as("c"))
      val wv = Window.partitionBy("id").orderBy(col("c").desc, col("lab").asc)
      labels = votes.withColumn("rn", row_number().over(wv))
        .filter(col("rn") === 1).select("id", "lab")
        .localCheckpoint()
    }
    SessionBridge.rebind(verts.sparkSession, labels)
  }

  /** DuckDB replay of d41: member-level synchronous LPA with the
    * rounds unrolled textually, initial labels = exact-content family
    * representatives (min doc_id over md5(text)), majority vote with
    * the (count DESC, label ASC) total order. `edges`/`lab{k}` are
    * `AS MATERIALIZED` for the same measured reason as d36's oracle.
    */
  /** The shared WITH-body behind d41's and d54's oracles: member-level
    * pairs → symmetric edges → synchronous LPA unrolled to
    * `lab{LpaRounds}`.
    */
  private def lpaCteSql: String = {
    val rounds = (1 to LpaRounds).map { k =>
      s"""votes$k AS (
         |  SELECT e.v AS id, p.lab, count(*) AS c
         |  FROM edges e JOIN lab${k - 1} p ON p.id = e.u
         |  GROUP BY 1, 2),
         |lab$k AS MATERIALIZED (
         |  SELECT id, lab FROM (
         |    SELECT id, lab, row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
         |    FROM votes$k) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""${Dedup.pairsCteSql},
       |edges AS MATERIALIZED (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |fams AS MATERIALIZED (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
       |  FROM corpus),
       |nodes AS (SELECT DISTINCT u AS id FROM edges),
       |lab0 AS MATERIALIZED (
       |  SELECT n.id, f.rep AS lab FROM nodes n JOIN fams f ON f.doc_id = n.id),
       |$rounds""".stripMargin
  }

  val oracleLabelPropagation: String =
    s"""WITH $lpaCteSql,
       |csizes AS (SELECT lab, count(*) AS comm_size FROM lab$LpaRounds GROUP BY 1)
       |SELECT l.id AS doc_id, l.lab AS community, s.comm_size
       |FROM lab$LpaRounds l JOIN csizes s USING (lab)
       |ORDER BY doc_id""".stripMargin

  /** d54 — modularity of the d41 LPA communities (Newman & Girvan
    * 2004): per community c, `q_part = e_c/m − (d_c/2m)²` — the
    * fraction of edges inside c minus the fraction a degree-preserving
    * random graph would put there. Σ q_part is THE standard "are these
    * communities real structure or noise" number; curation reads it
    * before trusting keep-one-per-community decisions (d41's vote can
    * shatter or glue — modularity says whether the partition beats
    * chance). Emitted per community so the gated relation also ranks
    * WHICH communities are cohesive.
    *
    * Determinism contract: `n_members`, `e_in`, `d_sum` and the edge
    * total m are exact BIGINTs over the member-level graph (closed
    * forms over the contracted graph: within-community member edges =
    * Σ C(f_i,2) + Σ_{i~j, lab_i=lab_j} f_i·f_j; member-degree sum =
    * Σ f_i·mdeg_i), and q_part is two exact divisions and one subtract
    * — bit-identical across engines.
    *
    * Scale shape (100 TB): rides the contracted graph and the same
    * weighted LPA loop as d41 (copy-factor-invariant); the modularity
    * pass itself is two keyed aggregates and two scalar anchors
    * (m_intra, m_cross — O(1) driver values, the d36 `n` precedent).
    */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    val (masses, m) = communityMasses(spark, dir)
    masses
      .withColumn("q_part",
        col("e_in").cast("double") / lit(m) -
          (col("d_sum") * col("d_sum")).cast("double") / lit(4L * m * m))
      .orderBy("community")
  }

  /** Per-community exact member-level masses over the contracted
    * graph: `(community, n_members, e_in, d_sum)` plus the member edge
    * total m — the shared substrate of d54 (modularity) and d66
    * (conductance). All BIGINTs via the contracted closed forms
    * documented on [[modularity]].
    */
  private def communityMasses(spark: SparkSession, dir: String): (DataFrame, Long) = {
    val (verts0, edges0, _) = Dedup.contractedPairGraph(spark, dir)
    val v = verts0.toDF("id", "f").localCheckpoint()
    val e0 = edges0.toDF("u", "v").localCheckpoint()
    val lab = lpaContracted(v, e0).localCheckpoint()
    val sym = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
    val s = sym.join(v.select(col("id").as("v"), col("f").as("fv")), Seq("v"))
      .groupBy(col("u").as("id")).agg(sum("fv").as("s"))
    val mdeg = v.join(s, Seq("id"), "left")
      .select(col("id"), col("f"),
        (col("f") - 1 + coalesce(col("s"), lit(0L))).as("mdeg"))
    // member edge total: within-family cliques + cross bundles
    val mIntra = v.agg(coalesce(sum(expr("(f * (f - 1)) div 2")), lit(0L)))
      .head.getLong(0)
    val mCross = e0
      .join(v.select(col("id").as("u"), col("f").as("fu")), Seq("u"))
      .join(v.select(col("id").as("v"), col("f").as("fv")), Seq("v"))
      .agg(coalesce(sum(col("fu") * col("fv")), lit(0L))).head.getLong(0)
    val m = mIntra + mCross
    require(m > 0, "community masses need a non-empty graph")
    val cstat = lab.join(mdeg, Seq("id"))
      .groupBy("lab")
      .agg(sum("f").as("n_members"),
           sum(col("f") * col("mdeg")).as("d_sum"),
           sum(expr("(f * (f - 1)) div 2")).as("e_intra"))
    val eCross = e0
      .join(lab.toDF("u", "lu"), Seq("u"))
      .join(lab.toDF("v", "lv"), Seq("v"))
      .where(col("lu") === col("lv"))
      .join(v.select(col("id").as("u"), col("f").as("fu")), Seq("u"))
      .join(v.select(col("id").as("v"), col("f").as("fv")), Seq("v"))
      .groupBy(col("lu").as("lab")).agg(sum(col("fu") * col("fv")).as("e_cross"))
    val masses = cstat.join(eCross, Seq("lab"), "left")
      .select(col("lab").as("community"), col("n_members"),
        (col("e_intra") + coalesce(col("e_cross"), lit(0L))).as("e_in"),
        col("d_sum"))
    (masses, m)
  }

  /** d66 — conductance of each d41 LPA community: `cut / min(vol,
    * 2m − vol)` with `cut = d_sum − 2·e_in` boundary edges and
    * `vol = d_sum` (Kannan, Vempala & Vetta 2004). Modularity (d54)
    * asks "is this partition better than chance overall"; conductance
    * asks, PER community, "how leaky is its boundary" — a
    * keep-one-per-community curation decision is only safe for
    * low-conductance communities (a leaky one is still exchanging
    * near-dup mass with the rest of the graph, so dropping its members
    * loses non-duplicate content). Near-zero cut with d54's q_part > 0
    * is the green light; the ranked leaky tail is d34's tuning
    * worklist.
    *
    * Determinism contract: cut/vol are the SAME exact BIGINTs d54
    * emits (shared [[communityMasses]]); conductance is one division
    * of identical integers — bit-identical across engines, NULL for
    * the degenerate whole-graph community (denominator 0).
    *
    * Scale shape: identical to d54 — the contracted-graph LPA loop
    * plus two keyed aggregates; |communities| rows out.
    */
  def conductance(spark: SparkSession, dir: String): DataFrame = {
    val (masses, m) = communityMasses(spark, dir)
    val denom = least(col("vol"), lit(2L * m) - col("vol"))
    masses
      .select(col("community"), col("n_members"), col("d_sum").as("vol"),
        (col("d_sum") - lit(2L) * col("e_in")).as("cut"))
      .withColumn("conductance",
        when(denom > 0, col("cut").cast("double") / denom))
      .orderBy("community")
  }

  /** d54's DuckDB replay: the d41 LPA unroll, then per-community edge
    * and degree masses counted directly off the member-level pair
    * relation — a different aggregation order that must hash-match the
    * contracted closed forms.
    */
  val oracleModularity: String =
    s"""WITH $lpaCteSql,
       |deg2 AS (SELECT u AS id, count(*) AS deg FROM edges GROUP BY 1),
       |mm AS (SELECT count(*) AS m FROM pairs),
       |cstat AS (
       |  SELECT l.lab AS community, count(*) AS n_members,
       |         sum(d.deg)::BIGINT AS d_sum
       |  FROM lab$LpaRounds l JOIN deg2 d ON d.id = l.id
       |  GROUP BY 1),
       |ein AS (
       |  SELECT la.lab AS community, count(*) AS e_in
       |  FROM pairs p
       |  JOIN lab$LpaRounds la ON la.id = p.id_a
       |  JOIN lab$LpaRounds lb ON lb.id = p.id_b
       |  WHERE la.lab = lb.lab
       |  GROUP BY 1)
       |SELECT c.community, c.n_members,
       |       coalesce(e.e_in, 0) AS e_in, c.d_sum,
       |       coalesce(e.e_in, 0)::DOUBLE / (SELECT m FROM mm) -
       |         (c.d_sum * c.d_sum)::DOUBLE /
       |         (4 * (SELECT m FROM mm) * (SELECT m FROM mm)) AS q_part
       |FROM cstat c LEFT JOIN ein e USING (community)
       |ORDER BY c.community""".stripMargin

  /** d66's DuckDB replay: the d41 LPA unroll, then cut = vol − 2·e_in
    * counted directly off the member-level pair relation (the d54
    * aggregation-order twin).
    */
  val oracleConductance: String =
    s"""WITH $lpaCteSql,
       |deg2 AS (SELECT u AS id, count(*) AS deg FROM edges GROUP BY 1),
       |mm AS (SELECT count(*) AS m FROM pairs),
       |cstat AS (
       |  SELECT l.lab AS community, count(*) AS n_members,
       |         sum(d.deg)::BIGINT AS vol
       |  FROM lab$LpaRounds l JOIN deg2 d ON d.id = l.id
       |  GROUP BY 1),
       |ein AS (
       |  SELECT la.lab AS community, count(*) AS e_in
       |  FROM pairs p
       |  JOIN lab$LpaRounds la ON la.id = p.id_a
       |  JOIN lab$LpaRounds lb ON lb.id = p.id_b
       |  WHERE la.lab = lb.lab
       |  GROUP BY 1)
       |SELECT c.community, c.n_members, c.vol,
       |  (c.vol - 2 * coalesce(e.e_in, 0))::BIGINT AS cut,
       |  CASE WHEN least(c.vol, 2 * (SELECT m FROM mm) - c.vol) > 0
       |       THEN (c.vol - 2 * coalesce(e.e_in, 0))::DOUBLE
       |            / least(c.vol, 2 * (SELECT m FROM mm) - c.vol)
       |  END AS conductance
       |FROM cstat c LEFT JOIN ein e USING (community)
       |ORDER BY c.community""".stripMargin

  /** d53 — link prediction / neighborhood-overlap audit over the
    * verified near-dup graph (Liben-Nowell & Kleinberg 2003): for
    * EVERY document pair sharing ≥ 1 common neighbor, the
    * common-neighbor count, a degree-normalized score
    * `cn / Σ deg(common neighbor)` (the integer-exact cousin of the
    * resource-allocation index Σ 1/deg — same monotone signal, but a
    * ratio of two BIGINT sums instead of a partition-order-dependent
    * float sum), and whether the pair is ALREADY an edge. The two
    * slices are both curation signals: `is_edge = false` rows are
    * predicted links — near-dup pairs the LSH+verify stage MISSED
    * despite shared neighborhoods (the repair list for band-threshold
    * tuning, d34) — and `is_edge = true` rows grade each verified
    * edge's embedding in its cluster (a high-overlap edge is
    * cluster-internal; a low-overlap edge is the one bridge gluing two
    * templates together — the screen before keep-one-per-cluster
    * curation, same question d41 answers by vote).
    *
    * Contraction exactness (the d36/d38/d39 argument): members x ∈
    * family i, y ∈ family j are member-adjacent iff i = j or i~j, and
    * common neighbors decompose by family with closed forms over
    * (f, S_i = Σ_{k~i} f_k, mdeg_i = f_i−1+S_i, W_i = Σ_{k~i}
    * f_k·mdeg_k):
    *   i ≠ j:  cn = Σ_{k~i ∧ k~j} f_k  (+ (f_i−1) + (f_j−1) iff i~j)
    *           snd = Σ f_k·mdeg_k      (+ (f_i−1)·mdeg_i + (f_j−1)·mdeg_j)
    *   i = j:  cn = mdeg_i − 1,  snd = (f_i−2)·mdeg_i + W_i
    * — exact integer arithmetic over the rep graph; the member-level
    * DuckDB oracle enumerates the same wedges off the blown-up pair
    * relation with a different join order and must hash-match.
    *
    * Scale shape (100 TB): wedge enumeration runs on the CONTRACTED
    * graph (copy-factor-invariant, the round-6 f² lesson) as one
    * self-join of the rep adjacency keyed by the wedge center — the
    * same O(Σ deg²) bound as d38's triangle wedges — then one
    * full-outer join against the rep edge list and keyed aggregates;
    * only the final member fan-out scales with duplication, and that
    * is the answer's own size. Every step is an equi-join or keyed
    * agg; nothing collects.
    */
  def linkPredict(spark: SparkSession, dir: String): DataFrame = {
    val (verts0, edges0, members) = Dedup.contractedPairGraph(spark, dir)
    linkPredictCore(verts0, edges0, members)
  }

  /** Link prediction on any canonical (u < v) pair relation — the
    * degenerate f = 1 instance (members = vertices themselves).
    */
  def linkPredictOnPairs(pairs: DataFrame): DataFrame = {
    val (verts, e0) = unitGraph(pairs)
    val members = verts.select(col("id").as("rep"), col("id").as("doc_id"))
    linkPredictCore(verts, e0, members)
  }

  /** The contracted computation behind [[linkPredict]]: `verts`
    * (id, f), `edges` (u, v) rep pairs, `members` (rep, doc_id).
    */
  private[graft] def linkPredictCore(verts0: DataFrame, edges0: DataFrame,
                                     members: DataFrame): DataFrame = {
    val v = verts0.toDF("id", "f").localCheckpoint()
    val e0 = edges0.toDF("u", "v").localCheckpoint()
    val sym = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
    // member-level degree of family k: mdeg = (f − 1) + S, S = Σ_{m~k} f_m
    val s = sym.join(v.select(col("id").as("v"), col("f").as("fv")), Seq("v"))
      .groupBy(col("u").as("id")).agg(sum("fv").as("s"))
    val mdeg = v.join(s, Seq("id"), "left")
      .select(col("id"), col("f"),
        (col("f") - 1 + coalesce(col("s"), lit(0L))).as("mdeg"))
      .localCheckpoint() // feeds four subtrees below
    // weighted neighbor-degree mass: W = Σ_{k~i} f_k·mdeg_k
    val w = sym.join(mdeg.select(col("id").as("v"),
        (col("f") * col("mdeg")).as("fd")), Seq("v"))
      .groupBy(col("u").as("id")).agg(sum("fd").as("w"))
    // cross-family co-neighbor mass via rep wedges i–k–j (i < j)
    val byK = sym.select(col("u").as("k"), col("v").as("n"))
    val wedges = byK.as("a").join(byK.as("b"),
        col("a.k") === col("b.k") && col("a.n") < col("b.n"))
      .select(col("a.n").as("ri"), col("b.n").as("rj"), col("a.k").as("k"))
    val wAgg = wedges.join(mdeg.select(col("id").as("k"), col("f").as("fk"),
        col("mdeg").as("dk")), Seq("k"))
      .groupBy("ri", "rj")
      .agg(sum("fk").as("wcn"), sum(col("fk") * col("dk")).as("wsnd"))
    val canon = e0.select(least(col("u"), col("v")).as("ri"),
                          greatest(col("u"), col("v")).as("rj"))
      .withColumn("edge", lit(true))
    // rep pairs = wedge pairs ∪ rep edges; adjacent pairs add their
    // own-family common members to the wedge mass
    val crossRep = wAgg.join(canon, Seq("ri", "rj"), "full_outer")
      .select(col("ri"), col("rj"),
        coalesce(col("wcn"), lit(0L)).as("wcn"),
        coalesce(col("wsnd"), lit(0L)).as("wsnd"),
        coalesce(col("edge"), lit(false)).as("is_edge"))
      .join(mdeg.select(col("id").as("ri"), col("f").as("fi"), col("mdeg").as("di")), Seq("ri"))
      .join(mdeg.select(col("id").as("rj"), col("f").as("fj"), col("mdeg").as("dj")), Seq("rj"))
      .select(col("ri"), col("rj"), col("is_edge"),
        (col("wcn") + when(col("is_edge"),
          col("fi") - 1 + col("fj") - 1).otherwise(lit(0L))).as("cn"),
        (col("wsnd") + when(col("is_edge"),
          (col("fi") - 1) * col("di") + (col("fj") - 1) * col("dj"))
          .otherwise(lit(0L))).as("snd"))
      .where(col("cn") >= 1)
    // same-family member pairs: every other member of i plus i's whole
    // bundle neighborhood is a common neighbor
    val sameRep = mdeg.join(w, Seq("id"), "left")
      .where(col("f") >= 2 && (col("mdeg") - 1) >= 1)
      .select(col("id"), (col("mdeg") - 1).as("cn"),
        ((col("f") - 2) * col("mdeg") + coalesce(col("w"), lit(0L))).as("snd"))
    // member fan-out, canonicalized by member id
    val ma = members.select(col("rep").as("ri"), col("doc_id").as("da"))
    val mb = members.select(col("rep").as("rj"), col("doc_id").as("db"))
    val crossOut = crossRep.join(ma, Seq("ri")).join(mb, Seq("rj"))
      .select(least(col("da"), col("db")).as("id_a"),
              greatest(col("da"), col("db")).as("id_b"),
              col("cn"), col("snd").as("sum_nbr_deg"), col("is_edge"))
    val sameOut = sameRep
      .join(members.select(col("rep").as("id"), col("doc_id").as("da")), Seq("id"))
      .join(members.select(col("rep").as("id"), col("doc_id").as("db")), Seq("id"))
      .where(col("da") < col("db"))
      .select(col("da").as("id_a"), col("db").as("id_b"),
              col("cn"), col("snd").as("sum_nbr_deg"), lit(true).as("is_edge"))
    crossOut.unionByName(sameOut)
      .withColumn("score", col("cn").cast("double") / col("sum_nbr_deg"))
      .orderBy("id_a", "id_b")
  }

  /** d53's DuckDB replay at MEMBER level: wedges enumerated directly
    * off the blown-up pair relation, degree summed per common
    * neighbor, adjacency looked up against the canonical pairs — a
    * different join order over a different (uncontracted) graph
    * representation that must land on the identical rows.
    */
  val oracleLinkPredict: String =
    s"""WITH ${Dedup.pairsCteSql},
       |edges AS MATERIALIZED (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |deg AS MATERIALIZED (SELECT u AS id, count(*) AS deg FROM edges GROUP BY 1),
       |wedge AS (
       |  SELECT a.v AS id_a, b.v AS id_b, a.u AS k
       |  FROM edges a JOIN edges b ON a.u = b.u AND a.v < b.v),
       |pred AS (
       |  SELECT w.id_a, w.id_b, count(*) AS cn, sum(d.deg)::BIGINT AS sum_nbr_deg
       |  FROM wedge w JOIN deg d ON d.id = w.k
       |  GROUP BY 1, 2)
       |SELECT p.id_a, p.id_b, p.cn, p.sum_nbr_deg,
       |       EXISTS (SELECT 1 FROM pairs q
       |               WHERE q.id_a = p.id_a AND q.id_b = p.id_b) AS is_edge,
       |       p.cn::DOUBLE / p.sum_nbr_deg AS score
       |FROM pred p
       |ORDER BY p.id_a, p.id_b""".stripMargin

  /** DuckDB replay: the same integer recurrence with the iterations
    * unrolled textually (standard-SQL recursive CTEs forbid the
    * per-round aggregate). `//` on non-negative BIGINTs truncates
    * toward zero = JVM `div` — the parity the fixed-point design buys.
    * `edges`/`deg` are `AS MATERIALIZED`: each unrolled round
    * references them, and without the hint DuckDB re-evaluates the
    * whole LSH+verify chain behind `pairs` once per round (measured:
    * a > 80 GB temp spill at sf0.1).
    */
  /** The unrolled `it1..it$PrIters` CTE rounds of the integer PageRank
    * recurrence — shared by every oracle that replays
    * [[pageRankOnPairs]] on some pair relation (d36 on the near-dup
    * graph, t34 on the word co-occurrence graph). Expects `edges`,
    * `deg`, `nodes`, `meta(tele)` and `it0` CTEs in scope.
    */
  private[llm] val prRoundsSql: String = (1 to PrIters).map { k =>
    s"""it$k AS (
       |  SELECT nd.id,
       |         (SELECT tele FROM meta) + ((85 * COALESCE(m.s, 0))::BIGINT // 100) AS r
       |  FROM nodes nd LEFT JOIN (
       |    SELECT e.v AS id, sum(p.r // d.deg) AS s
       |    FROM edges e
       |    JOIN it${k - 1} p ON p.id = e.u
       |    JOIN deg d ON d.id = e.u
       |    GROUP BY e.v) m ON m.id = nd.id)""".stripMargin
  }.mkString(",\n")

  val oraclePageRank: String = {
    val iters = prRoundsSql
    s"""WITH ${Dedup.pairsCteSql},
       |edges AS MATERIALIZED (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |deg AS MATERIALIZED (SELECT u AS id, count(*) AS deg FROM edges GROUP BY 1),
       |nodes AS (SELECT id FROM deg),
       |meta AS (
       |  SELECT count(*) AS n,
       |         (($PrScale * 15) // 100) // count(*) AS tele
       |  FROM nodes),
       |it0 AS (SELECT id, $PrScale // (SELECT n FROM meta) AS r FROM nodes),
       |$iters
       |SELECT p.id AS doc_id, d.deg, p.r AS pr
       |FROM it$PrIters p JOIN deg d ON d.id = p.id
       |ORDER BY doc_id""".stripMargin
  }
}
