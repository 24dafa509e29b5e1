package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables

/** Iterative graph analytics over relationship edges mined from the
  * relational tables — the second member (beside the connected-components
  * labeler in Dedup) of the "repeat a join-aggregate until done" family
  * that dedup graphs, citation ranking, and influence scoring all reduce
  * to at 100 TB.
  *
  * Determinism discipline: ranks are INTEGER-SCALED (initial mass 10¹²
  * per node) and every per-edge contribution is an integer division
  * (`div` in Spark, `//` in DuckDB — identical on non-negative BIGINTs),
  * so iteration sums are order-independent exact integer arithmetic and
  * the oracle hash matches bit-for-bit with no float-summation caveats.
  * The 0.85 damping factor is the exact rational 17/20 applied as
  * (17·x) div 20. Headroom: per-node rank is bounded by the total mass
  * n·10¹² (~1.6e16 at sf0.1), and 17× that stays far inside int64; for
  * corpora past ~10⁵ nodes the initial mass per node shrinks with the
  * node count ([[autoMass]]: total mass, not node count, is what must
  * stay under 2⁶³/17).
  */
object Graph {

  /** PageRank (3 iterations, damping 17/20) over the undirected
    * customer–supplier graph: an edge per (customer, supplier) pair that
    * shares at least one order. Undirected (both orientations) so every
    * node has out-degree ≥ 1 and no dangling-mass redistribution term is
    * needed. Output: top 100 nodes by rank (suppliers offset by 10⁶ to
    * disjoin the key spaces).
    *
    * Scale (round 7 shape, exchange audit round 15): edge generation
    * pre-aggregates lineitem to one per-order supplier SET (map-side-
    * combined collect_set keyed on the orderkey — bounded by order
    * size, never by corpus size), so the orderkey join moves |orders|
    * compact rows instead of the full |lineitem| spine; the pair
    * explode + distinct happens after. The degree is folded into the
    * edge list ONCE, hash-partitioned by the edge source, sorted within
    * partitions, and CACHED — the round-15 audit found the previous
    * localCheckpoint form silently re-exchanging the EDGE spine every
    * round (under AQE a checkpoint captures the UNFINALIZED adaptive
    * plan's partitioning, i.e. UnknownPartitioning: three exchanges per
    * round where this scaladoc claimed one). An InMemoryRelation
    * preserves the cached plan's hash(u) partitioning and ordering, and
    * so do the per-round rank caches, whose groupBy(v)+alias output IS
    * hash(u) of the next round's join key via alias-aware propagation.
    * Net per-round plan: exactly ONE exchange — the map-side-combined
    * destination groupBy, whose post-partial rows are node-bounded per
    * partition; the join neither moves nor sorts either side
    * (Round15Spec pins the executed-plan exchange count even with
    * broadcast disabled). Per-round ranks are materialized eagerly and
    * the previous round unpersisted, so cache footprint stays
    * node-sized + the edge spine.
    *
    * The int64 headroom the scaladoc above documents is ENFORCED:
    * the node count is read off the (cached, node-sized) degree
    * table and 17·n·initMass must stay inside Long — a graph too heavy
    * even for the smallest mass fails loudly instead of silently
    * wrapping. */
  /** The auto-mass rule: the largest power of 10 whose 17·n·mass
    * product stays inside Long, capped at 10¹² (the value every gated
    * SF pinned before the rule existed). MUST stay bit-equivalent to
    * the `mass` CTE in [[qPagerankOracle]] (MAX over the pow10 list
    * ≤ Long.MaxValue // 17 // n) — Round16Spec pins the equivalence
    * over the n range, and the 5-scale hash gates pin the SQL side. */
  private[graft] def autoMass(nNodes: Long): Long = {
    val cap = Long.MaxValue / 17L / math.max(nNodes, 1L)
    var p = 1L
    while (p * 10L <= cap && p < 1000000000000L) p *= 10L
    p
  }

  def qPagerank(s: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val perOrder = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .groupBy("l_orderkey")
      .agg(collect_set(col("l_suppkey")).as("ss"))
    // customers < 10⁶ ≤ suppliers, so the two orientations cannot collide.
    // Round 21 (guide §2.4): the spine is built as UNDIRECTED adjacency in
    // ONE aggregation — both orientations of every (customer, supplier)
    // pair flow map-side into a per-node collect_set, which dedups across
    // orders AND keys the result by u in a single exchange with map-side
    // partial merge. The previous distinct + union + repartition(u) shape
    // moved the pair spine through TWO edge-sized exchanges and then paid
    // a third degree join; the set size IS the degree, free on the same
    // row (the q_graph_triangles adjacency trick, measured 5.0 → 3.2 s
    // there). The edge SET is identical, so every downstream sum —
    // and the oracle hash — is unchanged.
    val p0 = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast(LongType).as("c"),
        explode(col("ss")).as("s0"))
      .select(col("c"), (col("s0") + lit(1000000L)).cast(LongType).as("sp"))
    val adj = p0.select(col("c").as("u"), col("sp").as("v"))
      .union(p0.select(col("sp").as("u"), col("c").as("v")))
      .groupBy("u").agg(collect_set(col("v")).as("un"))
      .persist()
    // hash(u)-partitioned edge spine with the degree folded in, SORTED
    // within partitions and cached ONCE: InMemoryRelation preserves the
    // cached plan's partitioning AND ordering, so every round's
    // sort-merge join reads the spine without moving or sorting it.
    // (persist, NOT localCheckpoint: under AQE a checkpoint captures the
    // UNFINALIZED adaptive plan's partitioning — UnknownPartitioning —
    // and the AQE-suspended checkpoint alternative pins raw row blocks
    // that cannot evict, which OOM'd the 100× decade at the 8 GiB
    // harness heap; columnar cache blocks are compressed and evictable.)
    val ed = adj
      .select(col("u"), size(col("un")).cast(LongType).as("d"),
        explode(col("un")).as("v"))
      .sortWithinPartitions("u").persist()
    val nNodes = adj.count()
    // Round 16: the per-node mass is AUTO-SIZED from the node count —
    // the largest power of 10 with 17·n·mass inside Long, capped at the
    // 10^12 every gated SF pinned through round 15 (so small-SF plans
    // and hashes are IDENTICAL to the old fixed default, while a graph
    // 100× the decade corpus sizes itself down). The oracle mirrors the
    // exact rule as a scalar subquery over the degree table, which is
    // what makes the entry hash-gateable at ANY factor (the 100× DuckDB
    // gate includes it).
    val initMass = autoMass(nNodes)
    require(nNodes <= Long.MaxValue / 17 / initMass,
      s"pagerank int64 headroom: $nNodes nodes x initMass $initMass " +
        "overflows 17*totalMass; the graph is too large for " +
        "integer-scaled ranks")
    var ranks = adj.select(col("u"), lit(initMass).as("r"))
    var prevCache: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val next = ed.join(ranks, "u")
        .select(col("v"), expr("r div d").as("c"))
        .groupBy(col("v"))
        .agg(sum(col("c")).as("sc"))
        .select(col("v").as("u"),
          // teleport term 0.15·initMass (= 150000000000 at the 10^12
          // mass the auto rule yields at every gated SF; the oracle
          // computes the same (m*3)//20 from its mirrored mass CTE)
          (lit(initMass * 3L / 20L) + expr("(17 * sc) div 20")).as("r"))
        .persist()
      next.count() // materialize BEFORE dropping the round it was built from
      prevCache.foreach(_.unpersist(false))
      prevCache = Some(next)
      ranks = next
    }
    ranks.select(col("u").as("node_id"), col("r").cast(LongType).as("rank_score"))
      .orderBy(col("rank_score").desc, col("node_id"))
      .limit(100)
  }

  private val qPagerankOracle = {
    // the auto-mass rule, mirrored: largest power of 10 with
    // 17·n·mass inside int64, capped at 10^12 (≡ qPagerank's loop; at
    // every gated SF n is small enough that this evaluates to the
    // pre-round-16 fixed 10^12, so historical hashes are unchanged)
    def step(prev: String, next: String) =
      s"""$next AS (
         |  SELECT e.v AS u,
         |    ((SELECT m FROM mass) * 3) // 20
         |      + (17 * SUM(($prev.r // deg.d))) // 20 AS r
         |  FROM e JOIN $prev ON e.u = $prev.u JOIN deg ON e.u = deg.u
         |  GROUP BY e.v)""".stripMargin
    // AS MATERIALIZED on the shared spine CTEs: DuckDB inlines
    // multiply-referenced CTEs by default, and the 100x gate measured
    // the un-hinted form re-deriving the 60M-row order-join edge spine
    // once per reference — a >74 GB spill; materialized it is 8.9 s.
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS u, 1000000 + l.l_suppkey AS v
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |e AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
       |deg AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
       |mass AS MATERIALIZED (
       |  SELECT MAX(t.p) AS m
       |  FROM (SELECT UNNEST([1, 10, 100, 1000, 10000, 100000, 1000000,
       |    10000000, 100000000, 1000000000, 10000000000, 100000000000,
       |    1000000000000]::BIGINT[]) AS p) t
       |  WHERE t.p <= 9223372036854775807 // 17 // (SELECT COUNT(*) FROM deg)),
       |r0 AS (SELECT u, (SELECT m FROM mass) AS r FROM deg),
       |${step("r0", "r1")},
       |${step("r1", "r2")},
       |${step("r2", "r3")}
       |SELECT u AS node_id, CAST(r AS BIGINT) AS rank_score
       |FROM r3 ORDER BY rank_score DESC, node_id LIMIT 100""".stripMargin
  }

  /** Triangle counting over the part co-purchase graph (parts sharing an
    * order), the clustering-structure primitive behind community
    * detection and link-spam scoring. Exact, via DEGREE-ORDERED edge
    * orientation (Schank–Wagner / Ortmann–Näher): each undirected edge
    * points from the lower-(degree, id) endpoint to the higher, so a
    * triangle u→v, u→w, v→w is witnessed exactly once — at its base edge
    * (u,v), where w sits in BOTH endpoints' out-neighborhoods. The
    * edge-iterator form ships each edge its two out-adjacency arrays and
    * intersects them in a codegen'd `array_intersect` — the Σ outdeg²
    * wedge population is walked inside the projection, never
    * materialized through a shuffle (the wedge-join form measured 9.6 s
    * at sf0.1 against ~5 s for this plan, same result hash). Only the
    * node-count-sized adjacency table is checkpointed (the edge list
    * re-derives from it by explode), and each witnessed edge emits ALL
    * its per-node contributions in one projection — a union of three
    * scans would re-run the intersect pipeline three times.
    *
    * Scale: pair generation never leaves its order (collect_set keyed on
    * orderkey, bounded by order size, then a map-side pair explode — the
    * same shape as pagerank's edge gen); adjacency arrays are bounded by
    * the ORIENTED out-degree, which the (degree, id) orientation caps at
    * O(√m) worst-case and at O(arboricity) on real graphs — hubs point
    * nowhere, so no array blows up and no intersection is quadratic in a
    * hub degree. Everything is shuffled hash joins on node keys plus one
    * combine-friendly final count; nothing touches the driver. The
    * oracle states the same triangle set via the key-ordered brute-force
    * closure — legal at verification scale, and deliberately a different
    * algorithm than the plan under test. */
  def qGraphTriangles(s: SparkSession, dir: String): DataFrame = {
    val perOrder = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(collect_set(col("l_partkey")).as("ps"))
    // UNDIRECTED adjacency in ONE aggregation: both orientations of
    // every within-order pair flow straight into a per-node collect_set
    // — the set dedups across orders AND replaces the former
    // pairs-distinct + separate degree shuffle (a measured 5.0 → 3.2 s
    // at sf0.1). Degree = set size, free on the same row.
    val undPairs = perOrder
      .select(explode(col("ps")).as("a0"), col("ps"))
      .select(col("a0").cast(LongType).as("a"), explode(col("ps")).as("b0"))
      .select(col("a"), col("b0").cast(LongType).as("b"))
      .filter(col("a") =!= col("b"))
    val undAdj = undPairs.groupBy("a").agg(collect_set(col("b")).as("un"))
    val deg = undAdj.select(col("a").as("n"), size(col("un")).cast(LongType).as("d"))
    // orient low-rank → high-rank on (degree, id): each undirected edge
    // appears once per endpoint, and exactly one survives the rank test
    val oriented = undAdj
      .select(col("a"), size(col("un")).cast(LongType).as("da"),
        explode(col("un")).as("b"))
      .join(deg, col("b") === col("n"))
      .filter(col("da") < col("d") ||
        (col("da") === col("d") && col("a") < col("b")))
      .select(col("a").as("u"), col("b").as("v"))
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      .localCheckpoint(true)
    val edges = adj.select(col("u"), explode(col("nbrs")).as("v"))
    // shuffle_hash, not the SMJ default: once adj outgrows the broadcast
    // threshold (10× disjoint-decade corpus and up; SCALE.md, round-14
    // graph decade check), SortMergeJoin would
    // SORT the join streams — and the probe rows carry the Σoutdeg²
    // wedge arrays, so the sort pays array-payload spills twice. A
    // shuffled hash join builds on the node-sized adj side and streams
    // the array-bearing rows unsorted (measured 106 → 36 s at the 10×
    // disjoint decade; identical result hash). The hint binds at EVERY
    // scale (it outranks the size-based broadcast pick), and at 1× the
    // SHJ plan measures the same as the old broadcast plan within the
    // noise band — node-sized builds are cheap either way.
    val witnessed = edges
      .join(adj.select(col("u").as("ju"), col("nbrs").as("nu"))
        .hint("shuffle_hash"), col("u") === col("ju"))
      .join(adj.select(col("u").as("jv"), col("nbrs").as("nv"))
        .hint("shuffle_hash"), col("v") === col("jv"))
      .select(col("u"), col("v"), array_intersect(col("nu"), col("nv")).as("ws"))
      .filter(size(col("ws")) > 0)
    // each witnessed triangle (u,v,w): u and v score the edge's witness
    // count, every witness w scores 1 — summed per node = its triangles.
    // All three roles emit from ONE projection over `witnessed`.
    witnessed.select(explode(concat(
        array(
          struct(col("u").as("part_id"), size(col("ws")).cast(LongType).as("t")),
          struct(col("v").as("part_id"), size(col("ws")).cast(LongType).as("t"))),
        transform(col("ws"), w => struct(w.as("part_id"), lit(1L).as("t"))))).as("c"))
      .select(col("c.part_id").as("part_id"), col("c.t").as("t"))
      .groupBy("part_id")
      .agg(sum(col("t")).cast(LongType).as("triangles"))
      .orderBy(col("triangles").desc, col("part_id"))
  }

  private val qGraphTrianglesOracle =
    """WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT DISTINCT p1.l_partkey AS a, p2.l_partkey AS b
      |      FROM po p1 JOIN po p2 ON p1.l_orderkey = p2.l_orderkey
      |       AND p1.l_partkey < p2.l_partkey),
      |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |      FROM e e1 JOIN e e2 ON e1.b = e2.a
      |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |n AS (SELECT x AS node FROM t UNION ALL SELECT y FROM t
      |      UNION ALL SELECT z FROM t)
      |SELECT node AS part_id, CAST(COUNT(*) AS BIGINT) AS triangles
      |FROM n GROUP BY node ORDER BY triangles DESC, part_id""".stripMargin

  /** Bounded-hop BFS distances from a seed set — the reachability
    * primitive behind influence radii, contamination spread ("which
    * documents cite a flagged source within 3 links"), and
    * neighborhood feature extraction. Seeds: every customer with
    * `c_custkey % 100 = 0`; graph: the same undirected customer–supplier
    * co-order edges as pagerank; output: every node within 3 hops with
    * its exact hop distance.
    *
    * LEVEL-SYNCHRONOUS frontier iteration: round h joins the edge spine
    * against ONLY the nodes first discovered at h−1 (`dist = h−1` after
    * the min-groupBy), so work per round is O(edges incident to the
    * frontier), not O(all edges × all discovered). The min-groupBy after
    * each union both dedups rediscoveries and IS the distance semantics
    * (min walk length = BFS distance). Same scale machinery as the
    * pagerank loop (round-15 exchange audit): the edge spine is
    * hash-partitioned by source, sorted within partitions, and CACHED —
    * persist, not localCheckpoint, because under AQE a checkpoint
    * captures UnknownPartitioning and every round re-exchanged the
    * spine — and the per-round distance caches keep their groupBy(u)
    * partitioning, which IS the next round's frontier join key. Per
    * round: the join moves nothing; the min-groupBy is the one
    * exchange (new-frontier rows keyed by v). The oracle states the
    * same distances as unrolled walk levels + MIN — a different
    * formulation on purpose. */
  def qGraphBfs(s: SparkSession, dir: String, hops: Int = 3): DataFrame =
    graphBfsFrom(s, dir, hops, seedMod = 100L)

  /** Bounded-seed GATE TWIN of [[qGraphBfs]] (round-19 verdict task 3
    * — the slice-twin recipe applied to the frontier shape): the
    * production entry's oracle unrolls three frontier joins from EVERY
    * 100th customer, and at the 100× corpus that seed density makes
    * the DuckDB level joins cross 480 s, so the entry carried no 100×
    * row. The twin runs the IDENTICAL level-synchronous machinery
    * ([[graphBfsFrom]] — same edge spine, same persist/partitioning
    * discipline, same hop cap) and bounds only the SEED SET: seeds are
    * customers with `c_custkey % R = 0` where R = max(100, n_cust/16)
    * — an integer rule the oracle mirrors verbatim as
    * `GREATEST(100, COUNT(*) // 16)`, so the seed count stays ~16 at
    * any decade and the oracle's per-level joins touch only edges
    * incident to a bounded frontier. At the sf0.01 driver corpus
    * (1,500 customers) R = 100 and the twin IS the full entry —
    * Round20Spec pins that identity. */
  def qGraphBfsBounded(s: SparkSession, dir: String): DataFrame = {
    val nCust = Tables.customer(s, dir).count()
    graphBfsFrom(s, dir, hops = 3, seedMod = math.max(100L, nCust / 16L))
  }

  private def graphBfsFrom(s: SparkSession, dir: String, hops: Int,
      seedMod: Long): DataFrame = {
    // Round 21 (guide §2.4): undirected adjacency in ONE aggregation —
    // the same spine rebuild as qPagerank (see its scaladoc): both
    // orientations flow map-side into a per-node collect_set, replacing
    // the distinct + union + repartition(u) chain (two edge-sized
    // exchanges) with one partially-aggregated exchange keyed by u. The
    // explode re-derives the identical edge set already partitioned by
    // hash(u); the in-partition sort runs once before the cache.
    val p0 = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"))
          .groupBy("l_orderkey")
          .agg(collect_set(col("l_suppkey")).as("ss")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast(LongType).as("c"),
        explode(col("ss")).as("s0"))
      .select(col("c"), (col("s0") + lit(1000000L)).cast(LongType).as("sp"))
    val edges = p0.select(col("c").as("u"), col("sp").as("v"))
      .union(p0.select(col("sp").as("u"), col("c").as("v")))
      .groupBy("u").agg(collect_set(col("v")).as("un"))
      .select(col("u"), explode(col("un")).as("v"))
      .sortWithinPartitions("u")
      .persist()
    // Round 21 (guide §2.3, verdict task 3b): FRONTIER-ONLY merge. The
    // previous form unioned the whole discovered set with the new
    // frontier and re-aggregated min(dist) over ALL of it every round —
    // re-shuffling every already-final row once per remaining hop. BFS
    // distances are final on first discovery (levels are disjoint; a
    // node's first round IS its min walk length), so each round now
    // computes only the increment: frontier-incident destinations,
    // minus everything already discovered (anti-join against the
    // node-sized cached levels), deduped. Rows shuffled per round drop
    // from |discovered| + |frontier edges| to |new nodes|; the result
    // set is identical (same first-discovery rounds), so the oracle's
    // unrolled-levels + MIN formulation hashes unchanged.
    val seeds = Tables.customer(s, dir)
      .filter(pmod(col("c_custkey"), lit(seedMod)) === 0)
      .select(col("c_custkey").cast(LongType).as("u"), lit(0L).as("dist"))
      .distinct()
      .persist()
    var frontier = seeds
    var dist = seeds
    // No per-round count() barrier: unlike the pagerank/labelprop loops
    // (which must materialize a round before UNPERSISTING its parent),
    // every BFS level stays cached, so the next round's broadcast build
    // materializes each level exactly once lazily — three whole driver
    // jobs fewer per query, same work.
    for (h <- 1 to hops) {
      val next = edges.join(frontier.select(col("u")), "u")
        .select(col("v").as("u"))
        .join(dist, Seq("u"), "left_anti")
        .distinct()
        .select(col("u"), lit(h.toLong).as("dist"))
        .persist()
      frontier = next
      dist = dist.union(next)
    }
    dist.select(col("u").as("node_id"), col("dist").cast(LongType).as("dist"))
      .orderBy("node_id")
  }

  private val qGraphBfsOracle =
    """WITH e0 AS (
      |  SELECT DISTINCT o.o_custkey AS u, 1000000 + l.l_suppkey AS v
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |d0 AS (SELECT DISTINCT c_custkey AS u FROM customer
      |       WHERE c_custkey % 100 = 0),
      |n1 AS (SELECT DISTINCT e.v AS u FROM e JOIN d0 ON e.u = d0.u),
      |n2 AS (SELECT DISTINCT e.v AS u FROM e JOIN n1 ON e.u = n1.u),
      |n3 AS (SELECT DISTINCT e.v AS u FROM e JOIN n2 ON e.u = n2.u),
      |lv AS (SELECT u, 0 AS dist FROM d0
      |       UNION ALL SELECT u, 1 FROM n1
      |       UNION ALL SELECT u, 2 FROM n2
      |       UNION ALL SELECT u, 3 FROM n3)
      |SELECT u AS node_id, CAST(MIN(dist) AS BIGINT) AS dist
      |FROM lv GROUP BY u ORDER BY node_id""".stripMargin

  // identical unrolled-walk formulation, seed set bounded by the
  // engine-mirrored integer rule R = max(100, n_cust/16)
  private val qGraphBfsBoundedOracle =
    """WITH r AS (SELECT GREATEST(100, COUNT(*) // 16) AS m FROM customer),
      |e0 AS (
      |  SELECT DISTINCT o.o_custkey AS u, 1000000 + l.l_suppkey AS v
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |d0 AS (SELECT DISTINCT c_custkey AS u FROM customer
      |       WHERE c_custkey % (SELECT m FROM r) = 0),
      |n1 AS (SELECT DISTINCT e.v AS u FROM e JOIN d0 ON e.u = d0.u),
      |n2 AS (SELECT DISTINCT e.v AS u FROM e JOIN n1 ON e.u = n1.u),
      |n3 AS (SELECT DISTINCT e.v AS u FROM e JOIN n2 ON e.u = n2.u),
      |lv AS (SELECT u, 0 AS dist FROM d0
      |       UNION ALL SELECT u, 1 FROM n1
      |       UNION ALL SELECT u, 2 FROM n2
      |       UNION ALL SELECT u, 3 FROM n3)
      |SELECT u AS node_id, CAST(MIN(dist) AS BIGINT) AS dist
      |FROM lv GROUP BY u ORDER BY node_id""".stripMargin

  /** Community detection by synchronous LABEL PROPAGATION — the
    * third member of the iterative join-aggregate family (pagerank =
    * weighted sum, BFS = min, label-prop = mode): every node adopts
    * its neighborhood's most frequent label each round, smallest label
    * on ties — fully deterministic, no randomized tie-breaking, so the
    * DuckDB oracle can unroll the rounds exactly.
    *
    * Scale: each round is one edge join + one (node, label) count +
    * one argmax window whose partitions are node-sized label sets
    * (bounded by degree). Round-15 exchange audit: the spine is cached
    * partitioned by the JOIN key v (labels attach to the edge's
    * destination) and sorted, and the per-round label caches keep their
    * window's hash(u) partitioning — which is the next round's label
    * join key n via alias propagation — so the per-round join moves
    * NEITHER side; the exchanges that remain carry post-partial
    * (u,label) counts, never raw edges. Labels are node ids, so no
    * label table ever exceeds the node relation. */
  def qGraphLabelprop(s: SparkSession, dir: String, iters: Int = 2): DataFrame = {
    // Round 21 (guide §2.4): undirected adjacency in ONE aggregation,
    // keyed by the JOIN side v (labels attach to the edge's
    // destination) — the same spine rebuild as qPagerank/qGraphBfs. The
    // old chain paid a pair-distinct exchange, a repartition(v)
    // exchange, and then a THIRD node-distinct exchange just to seed the
    // label table; the adjacency groupBy is one partially-aggregated
    // exchange, the explode re-derives the identical edge set already
    // hash(v)-partitioned, and the label seed reads the adjacency keys
    // directly (v's key set IS the node set — the spine is undirected),
    // with alias propagation keeping its hash partitioning.
    val p0 = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"))
          .groupBy("l_orderkey")
          .agg(collect_set(col("l_suppkey")).as("ss")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast(LongType).as("c"),
        explode(col("ss")).as("s0"))
      .select(col("c"), (col("s0") + lit(1000000L)).cast(LongType).as("sp"))
    val adjV = p0.select(col("c").as("u"), col("sp").as("v"))
      .union(p0.select(col("sp").as("u"), col("c").as("v")))
      .groupBy("v").agg(collect_set(col("u")).as("us"))
      .persist()
    val edges = adjV
      .select(explode(col("us")).as("u"), col("v"))
      .sortWithinPartitions("v")
      .persist()
    var labels = adjV
      .select(col("v").as("u"), col("v").as("lbl"))
      .persist()
    labels.count()
    var prevCache: Option[DataFrame] = Some(labels)
    for (_ <- 1 to iters) {
      // Round 21 (guide §1.2): the per-round argmax is a max_by HASH
      // aggregate over (count, −lbl) instead of a row_number window —
      // the window paid a second hash(u) exchange AND a per-partition
      // sort of the (u, lbl) count rows every round; max_by keeps the
      // exchange and drops the sort. Selection is identical: lbl is
      // unique within a (u, lbl) count row, so maximizing the
      // (c, −lbl) struct lexicographically IS "highest count, smallest
      // label on ties" — the exact row_number(c DESC, lbl ASC) = 1 row
      // (labels are non-negative node ids, so −lbl cannot overflow).
      val next = edges
        .join(labels.select(col("u").as("n"), col("lbl")), col("v") === col("n"))
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(max_by(col("lbl"), struct(col("c"), -col("lbl"))).as("lbl"))
        .persist()
      next.count() // materialize BEFORE dropping the round it came from
      prevCache.foreach(_.unpersist(false))
      prevCache = Some(next)
      labels = next
    }
    labels.select(col("u").as("node_id"), col("lbl").cast(LongType).as("community"))
      .orderBy("node_id")
  }

  private val qGraphLabelpropOracle = {
    def step(prev: String, next: String) =
      s"""$next AS (
         |  SELECT u, lbl FROM (
         |    SELECT e.u, $prev.lbl, COUNT(*) AS c,
         |      row_number() OVER (PARTITION BY e.u
         |        ORDER BY COUNT(*) DESC, $prev.lbl ASC) AS rn
         |    FROM e JOIN $prev ON e.v = $prev.u
         |    GROUP BY e.u, $prev.lbl) x
         |  WHERE rn = 1)""".stripMargin
    s"""WITH e0 AS (
       |  SELECT DISTINCT o.o_custkey AS u, 1000000 + l.l_suppkey AS v
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
       |l0 AS (SELECT DISTINCT u, u AS lbl FROM e),
       |${step("l0", "l1")},
       |${step("l1", "l2")}
       |SELECT u AS node_id, CAST(lbl AS BIGINT) AS community
       |FROM l2 ORDER BY node_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_labelprop" -> ((s, d) => qGraphLabelprop(s, d)),
    "q_pagerank" -> ((s, d) => qPagerank(s, d)),
    "q_graph_triangles" -> ((s, d) => qGraphTriangles(s, d)),
    "q_graph_bfs" -> ((s, d) => qGraphBfs(s, d)),
    "q_graph_bfs_bounded" -> ((s, d) => qGraphBfsBounded(s, d))
  )

  def oracleSql: Map[String, String] = Map(
    "q_graph_labelprop" -> qGraphLabelpropOracle,
    "q_pagerank" -> qPagerankOracle,
    "q_graph_triangles" -> qGraphTrianglesOracle,
    "q_graph_bfs" -> qGraphBfsOracle,
    "q_graph_bfs_bounded" -> qGraphBfsBoundedOracle
  )
}
