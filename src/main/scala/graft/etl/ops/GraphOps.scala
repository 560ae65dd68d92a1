package graft.etl.ops

import graft.etl.{Ckpt, QueryDef, Tables, TableStats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** §2.L graph analytics over the co-purchase graph.
  *
  * The graph: parts are nodes; an undirected edge connects two parts that
  * appear in the same order (distinct (order, part) first, then per-order
  * pairing with `src < dst` as the canonical orientation). This is the
  * web-graph shape of a crawl pipeline (PageRank-style quality scoring of
  * crawl sources, link-farm detection via clustering coefficients) mapped
  * onto the fixture star schema.
  *
  * Scale:
  *   - Edge derivation: the oracle's pair self-join on order key
  *     (`a.pk < b.pk`), planned as a shuffled hash join whose two sides
  *     reuse one exchange, then one `src`-keyed shuffle that the global
  *     `distinct` reuses; only keys cross the wire.
  *     Fan-out per order is bounded by lines-per-order (≤ 7 in the TPC-H
  *     shape, ≤ 21 pairs). Plain relational operators compile and
  *     pipeline where the per-order `collect_set` + array-explode form it
  *     replaced ran as object-state aggregation: at GenData sf0.1 the
  *     join form spends ~40% less task time and shuffle write and sets an
  *     18% lower staging heap peak (PERF.md, "copurchase self-join").
  *   - Degree / PageRank iterate keyed shuffles of (node, long) pairs only;
  *     the direction-doubled adjacency IS a sorted-bucketed-by-`src` table
  *     ([[graft.etl.ExtractFixtures.copurchaseAdjacency]]) so every
  *     iteration reuses the layout and shuffles nothing but the rank column
  *     — the same staging a 100 TB deployment would write.
  *   - Triangle counting runs on a declared subgraph (p_size < 10 — the
  *     filter pushes to the part scan) with the `a < b < c` orientation
  *     bounding wedge fanout by ORIENTED degree; the production-scale
  *     refinement (orient low-degree → high-degree so hubs never fan out)
  *     keeps the same plan shape.
  *
  * Determinism (§2.1): every metric is integer arithmetic (counts, `div`) or
  * a single IEEE division of exact integers — no fp accumulation anywhere.
  * PageRank runs in integer micro-units (total mass 10^12) with truncating
  * division on BOTH engines, so 3 unrolled iterations are bit-exact.
  */
object GraphOps {

  /** Canonical (src < dst) co-purchase edges, distinct — read from the
    * STAGED edge table ([[graft.etl.ExtractFixtures.copurchaseEdges]],
    * written once per (JVM, sfDir)): the five graph queries share one
    * materialization instead of each re-deriving the pair pipeline from
    * the fact table. The derivation IS the oracle's DISTINCT self-join
    * (`edgesCte`) — same pair set, same orientation, same NULL handling;
    * see the staging writer for the join strategy and layout. */
  private def edges(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val dir = graft.etl.ExtractFixtures.copurchaseEdges(spark, sfDir)
    spark.read.schema("src BIGINT, dst BIGINT").parquet(dir)
  }

  private val edgesCte =
    "lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
      "e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst FROM lp a " +
      "JOIN lp b ON a.ok = b.ok AND a.pk < b.pk)"

  /** Degree distribution: per-node degree bucketed by 10. Degree comes
    * straight off the STAGED direction-doubled adjacency table (each
    * undirected edge appears once per endpoint as that endpoint's `src`
    * row, and edges are distinct — so count-per-src IS the degree,
    * identical to exploding both endpoints of the edge list): the table
    * is bucketed by src, so the groupBy runs with ZERO exchange and each
    * task's aggregate state is one bucket's nodes, not the whole node
    * set — the explode-over-edges form paid a 540 M-row partial
    * aggregate whose per-task hash held every node (per-edge CPU grew
    * 1.38× from sf10 to sf30 on exactly 3.0× edges, measured round 11).
    * The histogram is metadata-scale output however large the graph. */
  private val qgraphDegree = QueryDef(
    "qgraph_degree",
    build = (spark, sfDir) => {
      val adj = spark.table(graft.etl.ExtractFixtures.copurchaseAdjacency(spark, sfDir))
      // group on the raw bucket column (an alias in the grouping key can
      // hide the bucketed distribution from the exchange planner)
      val deg = adj.groupBy(col("src"))
        .agg(count(lit(1)).as("degree"))
      deg.groupBy(expr("degree div 10").as("bucket"))
        .agg(
          count(lit(1)).as("n_parts"),
          min(col("degree")).as("min_degree"),
          max(col("degree")).as("max_degree"))
        .orderBy(col("bucket"))
    },
    oracle = Some(
      s"WITH $edgesCte, " +
        "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS degree FROM " +
        "(SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e) both_ends GROUP BY v) " +
        "SELECT degree // 10 AS bucket, CAST(count(*) AS BIGINT) AS n_parts, " +
        "min(degree) AS min_degree, max(degree) AS max_degree " +
        "FROM deg GROUP BY degree // 10 ORDER BY bucket"))

  /** Triangle census on the p_size < 10 subgraph: triangle count via the
    * oriented 3-way self-join (a < b < c enumerates each triangle exactly
    * once), wedge count from degrees (Σ d·(d−1)/2 — exact integers), and the
    * global clustering coefficient 3·triangles/wedges as ONE IEEE division
    * of exact integers. */
  private val qgraphTriangles = QueryDef(
    "qgraph_triangles",
    build = (spark, sfDir) => {
      val small = Tables.part(spark, sfDir)
        .filter(col("p_size") < 10)
        .select(col("p_partkey"))
      // The filtered edge set feeds THREE consumers (wedge join left side,
      // triangle-closing join, degree explode); materialize it once instead
      // of re-running the distinct + order self-join + two broadcast filters
      // per consumer — at 100 TB this is "stage the subgraph to fast storage
      // before the multi-pass census", the standard triangle-counting shape.
      val e = Ckpt(edges(spark, sfDir)
        .join(broadcast(small.withColumnRenamed("p_partkey", "src")), Seq("src"))
        .join(broadcast(small.withColumnRenamed("p_partkey", "dst")), Seq("dst"))
        .select(col("src"), col("dst")))
      val wedges = e.select(col("src").as("a"), col("dst").as("b"))
        .join(e.select(col("src").as("b2"), col("dst").as("c")), col("b") === col("b2"))
        .select(col("a"), col("b"), col("c"))
      val tri = wedges
        .join(e.select(col("src").as("a2"), col("dst").as("c2")),
          col("a") === col("a2") && col("c") === col("c2"))
        .agg(count(lit(1)).as("n_triangles"))
      // one scan of the checkpointed subgraph instead of a unionAll's
      // two (the kcore round-9c lesson): each edge yields exactly its
      // two endpoint rows, identical counts
      val deg = e.select(explode(array(col("src"), col("dst"))).as("v"))
        .groupBy(col("v"))
        .agg(count(lit(1)).as("degree"))
      val stats = deg.agg(
        count(lit(1)).as("n_nodes"),
        expr("sum(degree * (degree - 1) div 2)").as("n_wedges"))
      val nEdges = e.agg(count(lit(1)).as("n_edges"))
      nEdges.crossJoin(stats).crossJoin(tri)
        .withColumn("global_cc",
          when(col("n_wedges") > 0,
            (col("n_triangles") * 3).cast("double") / col("n_wedges").cast("double")))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"), col("global_cc"))
    },
    oracle = Some(
      "WITH small AS (SELECT p_partkey FROM part WHERE p_size < 10), " +
        "lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "e0 AS (SELECT DISTINCT a.pk AS src, b.pk AS dst FROM lp a " +
        "JOIN lp b ON a.ok = b.ok AND a.pk < b.pk), " +
        "e AS (SELECT src, dst FROM e0 " +
        "WHERE src IN (SELECT p_partkey FROM small) AND dst IN (SELECT p_partkey FROM small)), " +
        "tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM e e1 " +
        "JOIN e e2 ON e1.dst = e2.src JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst), " +
        "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS degree FROM " +
        "(SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e) both_ends GROUP BY v), " +
        "st AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes, " +
        "CAST(sum(degree * (degree - 1) // 2) AS BIGINT) AS n_wedges FROM deg), " +
        "ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e) " +
        "SELECT n_nodes, n_edges, n_wedges, n_triangles, " +
        "CASE WHEN n_wedges > 0 THEN CAST(n_triangles * 3 AS DOUBLE) / CAST(n_wedges AS DOUBLE) END AS global_cc " +
        "FROM ne CROSS JOIN st CROSS JOIN tri"))

  /** 3-iteration PageRank (damping 0.85) in exact integer micro-units:
    * total mass 10^12, per-node share and every contribution computed with
    * truncating integer division — identical on both engines, so the ranks
    * are bit-exact with no fp anywhere. Per iteration: one keyed join of
    * the BUCKETED adjacency table to the rank table + one keyed aggregate
    * — the edge side arrives hash-distributed and sorted from its bucket
    * layout, so the only data moving per iteration are rank-scale rows.
    * Top-20 by (rank desc, node) via TakeOrdered. */
  private val qgraphPagerank = QueryDef(
    "qgraph_pagerank",
    build = (spark, sfDir) => {
      // The adjacency is a STAGED SORTED-BUCKETED TABLE (bucketBy src —
      // [[graft.etl.ExtractFixtures.copurchaseAdjacency]]), not an in-heap
      // checkpoint: this is the canonical 100 TB PageRank layout the header
      // promises — stage the direction-doubled adjacency once, then iterate
      // rank-only shuffles over it. Each of the three unrolled iterations
      // re-reads a two-long columnar scan whose bucket layout already
      // matches the join's src hash distribution (no exchange, no sort on
      // the edge side), and NOTHING edge-scale lives in the block
      // manager: a checkpointed edge frame serializes to ~17 GB at sf30
      // and cannot fit a 16 GB JVM, where the table runs from disk
      // (PERF.md, "One checkpoint policy", for the variants measured).
      val dir = spark.table(
        graft.etl.ExtractFixtures.copurchaseAdjacency(spark, sfDir))
      // deg is NODE-scale (it doubles as the node list and appears in every
      // iteration's dangling-mass left join) — a checkpoint is right
      // here; only the edge-scale frame moved to the staged table.
      val deg = Ckpt(dir.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      val nRow = deg.agg(count(lit(1)).as("n"))
      // every node appears in deg (symmetric graph: in-degree == out-degree
      // > 0), so deg doubles as the node list and nothing dangles. Each
      // frame below renames through fresh aliases so the rank table never
      // shares attribute ids with the edge subtree it joins (self-join
      // ambiguity guard).
      // `deg` rides INSIDE the checkpointed rank frame (v, deg, pr), so
      // the per-node share is map-side arithmetic on the checkpoint scan
      // instead of a node-scale join (two exchanges + two sorts) every
      // iteration; it costs ~|V|·8 bytes of checkpoint state. Integer math
      // is the same `pr div deg`, so ranks stay bit-exact vs the oracle.
      val nodes = deg.select(col("src").as("v"), col("deg"))
        .crossJoin(broadcast(nRow))
      // The contribution aggregate below is the one per-iteration
      // structure whose per-task state grows with the graph at a fixed
      // partition count: its hash map holds nodes/partitions (dst, sum)
      // entries, and outgrowing its pool share falls back to sorting
      // (PERF.md round 12). Copurchase node ids are part keys, so the part
      // table's footer row count bounds distinct dst exactly, and sizes
      // the aggregate's partitions at [[TableStats.rowsPerTask]]. Below
      // the trip point the unnumbered repartition(dst) is kept: it stays
      // AQE-coalescible.
      val contribParts = TableStats.sizedPartitions(spark,
        TableStats.rows(spark, Tables.path(sfDir, "part")),
        TableStats.rowsPerTask(spark), margin = 1.0)
      var pr = nodes.select(col("v"), col("deg"),
        expr("1000000000000 div n").as("pr"))
      for (_ <- 1 to 3) {
        // Materialize the NODE-scale rank vector between iterations
        // (tens of MB even at sf30, never edge-scale). Without the cut,
        // the bucket-aligned layout leaves NO exchange anywhere in the
        // iteration body, so Catalyst fuses iteration i's final
        // aggregate+sort, both node-side SMJs, iteration i+1's edge-scale
        // SMJ and its partial aggregate into ONE codegen'd task pipeline,
        // whose ~6 concurrent memory consumers per task exhaust the pool
        // at sf10 (UNABLE_TO_ACQUIRE_MEMORY). The cut bounds each
        // iteration to its own job: one edge SMJ + one aggregate in
        // flight, rank-only state in memory — the per-superstep
        // materialization a cluster Pregel loop does.
        pr = Ckpt(pr)
        // per-node outgoing share (pr div deg) is resolved NODE-side — a
        // map-side projection over the checkpointed (v, deg, pr) frame
        // (deg rides in the checkpoint; see the `nodes` note above) —
        // instead of carrying deg on every edge row: the edge frame stays
        // two longs wide and the only data moving per iteration are
        // rank-scale rows plus the unavoidable (dst, contribution)
        // aggregate shuffle.
        val share = pr
          .select(col("v").as("__sv"), expr("pr div deg").as("__share"))
        // The contribution aggregate shuffles RAW (dst, share) pairs —
        // the explicit repartition(dst) puts both the partial and final
        // HashAggregate on dst-partitioned data, where the per-task key
        // count is nodes/shuffle.partitions (~147 k at sf30: a ~7 MB
        // map) regardless of scale. Without it the partial aggregate
        // runs inside the bucket-scan tasks, whose per-task key
        // universe is nearly ALL nodes (~3-4 M at sf30, random dst):
        // the map outgrows its 1/32nd pool share, falls back to
        // sort-based aggregation, and every iteration paid 39 GB of
        // memory-spill + 4.8 GB of disk-spill for a 2.8× row reduction
        // (Bench --isolate round 12: 720 s executorRun per iteration in that
        // one stage; A/B-confirmed NOT fixable by bucket count — 96
        // buckets left it unchanged). Raw pairs cost ~2.8× the shuffle
        // bytes (two longs, lz4) and zero spill — the 100 TB trade too,
        // since sort-fallback per map task is exactly what kills a
        // fixed-partition PageRank at cluster scale.
        val contrib = {
          val joined = dir
            .join(share, dir("src") === share("__sv"))
            .select(col("dst"), col("__share").as("c"))
          contribParts.fold(joined.repartition(col("dst")))(
            n => joined.repartition(n, col("dst")))
        }
          .groupBy(col("dst"))
          .agg(sum(col("c")).as("s"))
          .select(col("dst").as("cv"), col("s"))
        pr = nodes
          .join(contrib, col("v") === col("cv"), "left")
          .select(
            col("v"), col("deg"),
            (expr("(15 * (1000000000000 div n)) div 100") +
              expr("(85 * coalesce(s, 0)) div 100")).as("pr"))
      }
      pr.select(col("v"), col("pr"))
        .orderBy(col("pr").desc, col("v")).limit(20)
    },
    oracle = Some {
      def iter(prev: String, out: String): String =
        s"c$out AS (SELECT d.dst AS cv, sum($prev.pr // deg.deg) AS s FROM d " +
          s"JOIN $prev ON d.src = $prev.v JOIN deg ON d.src = deg.src GROUP BY d.dst), " +
          s"$out AS (SELECT nodes.v, (15 * (1000000000000 // n)) // 100 + " +
          s"(85 * COALESCE(c$out.s, 0)) // 100 AS pr " +
          s"FROM nodes LEFT JOIN c$out ON nodes.v = c$out.cv)"
      s"WITH $edgesCte, " +
        "d AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e), " +
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM d GROUP BY src), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg), " +
        "nodes AS (SELECT src AS v, n FROM deg CROSS JOIN nn), " +
        "p0 AS (SELECT v, 1000000000000 // n AS pr FROM nodes), " +
        iter("p0", "p1") + ", " + iter("p1", "p2") + ", " + iter("p2", "p3") + " " +
        "SELECT v, CAST(pr AS BIGINT) AS pr FROM p3 ORDER BY pr DESC, v LIMIT 20"
    })

  /** k-core peeling (k=100, 3 unrolled rounds): repeatedly drop nodes of
    * degree < k and the edges touching them; emit (round, n_nodes,
    * n_edges) after 0..3 peels. The co-purchase graph's mean degree is
    * ~115 at every SF (edges/nodes is set by lines-per-order, not scale),
    * so k=100 peels a real shell each round and the graph collapses by
    * round 3 — the census shape a link-farm / dense-community detector
    * runs before clustering.
    *
    * Scale: each round is one degree aggregate plus two key-only
    * semi-joins of the edge list against the (node) keep-set, all keyed
    * shuffles — the textbook distributed k-core loop. The shrinking edge
    * frame is checkpointed per round (the dedupClusters pattern) so
    * round r+1 reads round r's materialization instead of replaying the
    * whole peel chain; at 100 TB each round's edge set would stage to the
    * cluster store bucketed by src for the same reason. Output is 4
    * integer-only rows regardless of graph size. */
  private val qgraphKcore = QueryDef(
    "qgraph_kcore",
    build = (spark, sfDir) => {
      val k = 100
      // executable form of the broadcast contract below (round-8 advice
      // item): broadcasting the keep-set is only the right scale choice
      // while k is large enough that survivors are a small hub set. A
      // future low-k edit must switch the two semi-joins to shuffled
      // form, and this require makes that coupling fail loudly instead
      // of silently collecting ~every node to the driver.
      require(k >= 50,
        s"k=$k: the broadcast keep-set peel assumes a high-k hub set; " +
          "use shuffled semi-joins for low k")
      // every pass over the checkpointed edge frame is a full scan, so
      // the degree computation reads it ONCE via explode(array(src, dst))
      // instead of twice via a unionAll of two projections; the
      // checkpoint reads dominate the peel at scale. Each edge
      // contributes exactly two exploded rows, so per-endpoint counts are
      // identical to the unionAll.
      // The census reads the per-round DEGREE frame instead of
      // re-exploding the edge frame through a count_distinct (whose
      // distinct+plain aggregate pair Expands every exploded row ×2).
      // Over a degree frame: n_nodes = row count (each endpoint appears
      // exactly once), n_edges = Σdeg / 2 (each edge contributes 2 to
      // Σdeg) — exact integer identities, same BIGINT outputs. The degree
      // frame is the SAME aggregate the next peel's keep-set needs, so one
      // node-scale checkpoint per round serves both consumers.
      // coalesce: a fully-peeled (empty) round must report 0 edges, and
      // sum over an empty frame is null where the old count(*) was 0
      def summaryOfDeg(degr: DataFrame, round: Int): DataFrame =
        degr.agg(count(lit(1)).as("n_nodes"),
          (coalesce(sum(col("deg")), lit(0L)) / 2).cast("bigint").as("n_edges"))
          .select(lit(round).as("round"), col("n_nodes"), col("n_edges"))
      // round 0 reads the STAGED PARQUET directly — the staged edge
      // table is already a columnar materialization, and checkpointing
      // it again would only add a serialize + per-scan deserialize on top
      // of what the parquet reader does cheaper. Only the PEELED frames
      // (new lineage per round, read by the next round) are checkpointed.
      //
      // The ROUND-1 full-frame passes ride the bucketed adjacency (the
      // qgraph_degree shape): the table is direction-doubled, so
      // count-per-src IS the degree and distinct-src IS the node set, and
      // bucketing by src makes both aggregates bucket-local instead of
      // one hash aggregate over every exploded edge whose per-task state
      // holds every node. Peeled frames (rounds 2–3) keep the explode:
      // they are no longer bucketed and shrink fast at k = 100.
      val adj = spark.table(
        graft.etl.ExtractFixtures.copurchaseAdjacency(spark, sfDir))
      var ecur = edges(spark, sfDir)
      def degreeOf(e: DataFrame): DataFrame =
        e.select(explode(array(col("src"), col("dst"))).as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val census = scala.collection.mutable.ArrayBuffer(adj
        .agg(count_distinct(col("src")).as("n_nodes"),
          (count(lit(1)) / 2).cast("bigint").as("n_edges"))
        .select(lit(0).as("round"), col("n_nodes"), col("n_edges")))
      val rounds = 3
      for (r <- 1 to rounds) {
        // one node-scale degree frame per round over the PRE-peel frame:
        // round 1 rides the bucketed adjacency (count-per-src IS the
        // degree, bucket-local); later rounds explode the checkpointed
        // peeled frame once. Checkpointed because up to three consumers
        // read it (the round-(r−1) census and the two keep broadcasts).
        val degr = Ckpt(if (r == 1)
          adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
            .select(col("src").as("v"), col("deg"))
        else degreeOf(ecur))
        // degr covers the round-(r−1) frame; round 0's census above comes
        // off the adjacency directly, so only r ≥ 2 reuses it
        if (r >= 2) census += summaryOfDeg(degr, r - 1)
        val keep = degr.filter(col("deg") >= k).select(col("v"))
        // the surviving-node set shrinks every peel and at k = 100 is a
        // small hub set — BROADCAST it so both endpoint semi-joins run
        // map-side and the edge frame never shuffles (for a low k where
        // keep ≈ all nodes, the shuffled semi-join would be the right
        // shape instead; k is the declared contract here)
        val peeled = ecur
          .join(broadcast(keep.withColumnRenamed("v", "src")), Seq("src"), "left_semi")
          .join(broadcast(keep.withColumnRenamed("v", "dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
        // the FINAL round's peeled frame has exactly ONE consumer — the
        // closing census below — so it is not checkpointed; rounds with a
        // next peel are (the next round's degree aggregate AND its two
        // keep broadcasts re-read the frame).
        ecur = if (r < rounds) Ckpt(peeled) else peeled
      }
      census += summaryOfDeg(degreeOf(ecur), rounds)
      census.reduce(_ unionAll _).orderBy(col("round"))
    },
    oracle = Some {
      def peel(prev: String, out: String): String =
        s"k$out AS (SELECT v FROM (SELECT src AS v FROM $prev UNION ALL " +
          s"SELECT dst AS v FROM $prev) t GROUP BY v HAVING count(*) >= 100), " +
          s"$out AS (SELECT e.src, e.dst FROM $prev e " +
          s"JOIN k$out a ON e.src = a.v JOIN k$out b ON e.dst = b.v)"
      def row(tab: String, r: Int): String =
        s"SELECT $r AS round, " +
          s"(SELECT CAST(count(DISTINCT v) AS BIGINT) FROM " +
          s"(SELECT src AS v FROM $tab UNION ALL SELECT dst AS v FROM $tab) t) AS n_nodes, " +
          s"(SELECT CAST(count(*) AS BIGINT) FROM $tab) AS n_edges"
      s"WITH $edgesCte, " +
        peel("e", "e1") + ", " + peel("e1", "e2") + ", " + peel("e2", "e3") + " " +
        row("e", 0) + " UNION ALL " + row("e1", 1) + " UNION ALL " +
        row("e2", 2) + " UNION ALL " + row("e3", 3) + " ORDER BY round"
    })

  /** Connected components on the sparse p_size ≤ 2 co-purchase subgraph:
    * 4 unrolled synchronous min-label rounds (label₀ = node id; each round
    * every node takes the min of its own and its neighbours' labels), then
    * the component-size census (comp_size, n_components). Defined — and
    * oracle-checked — as "labels after exactly 4 rounds", so the metric is
    * deterministic whether or not the graph has converged; on this sparse
    * slice (edge survival (2/50)² of the full graph) 4 rounds settle
    * everything but the longest paths of the giant component.
    *
    * vs [[graft.api.Graft.dedupClusters]]: that one is the PRODUCTION
    * component resolver (pointer-jumping, convergence probe, unbounded
    * rounds); this one pins the synchronous-round semantics cross-engine,
    * which the oracle can express as unrolled CTEs. Scale: each round is
    * one keyed join + one keyed min-aggregate over (node, long) pairs —
    * the same two-shuffle loop body as PageRank; the census output is
    * metadata-sized however large the graph. */
  private val qgraphCc = QueryDef(
    "qgraph_cc",
    build = (spark, sfDir) => {
      val small = Tables.part(spark, sfDir)
        .filter(col("p_size") <= 2)
        .select(col("p_partkey"))
      val es = edges(spark, sfDir)
        .join(broadcast(small.withColumnRenamed("p_partkey", "src")), Seq("src"))
        .join(broadcast(small.withColumnRenamed("p_partkey", "dst")), Seq("dst"))
        .select(col("src"), col("dst"))
      // SELF-LOOPS collapse each unrolled round to ONE join + ONE
      // aggregate. With a (v, v) row per node in the relation,
      // min-over-in-neighbours ∪ {self} IS the whole update:
      //   new_lbl(v) = min{ lbl(u) : (u,v) ∈ d ∪ selfloops }
      //             = least(lbl(v), min over neighbours)   — identical.
      // Every node has its self-loop, so the groupBy covers every node.
      // One label reference per round keeps plan growth LINEAR in rounds
      // (4 joins + 4 aggregates); a second reference per round would
      // duplicate every upstream subtree 2^4 ways.
      val dd = es.unionAll(es.select(col("dst").as("src"), col("src").as("dst")))
      val d = Ckpt(dd.unionAll(
        dd.select(col("src"), col("src").as("dst")).distinct()))
      var lbl = d.filter(col("src") === col("dst"))
        .select(col("src").as("v"), col("src").as("lbl"))
      for (_ <- 1 to 4) {
        lbl = d.join(lbl, d("src") === lbl("v"))
          .select(col("dst").as("v2"), col("lbl"))
          .groupBy(col("v2")).agg(min(col("lbl")).as("lbl"))
          .select(col("v2").as("v"), col("lbl"))
      }
      lbl.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("comp_size"))
        .agg(count(lit(1)).as("n_components"))
        .orderBy(col("comp_size"))
    },
    oracle = Some {
      def round(prev: String, out: String): String =
        s"nm$out AS (SELECT d.dst AS v, min($prev.lbl) AS nm FROM d " +
          s"JOIN $prev ON d.src = $prev.v GROUP BY d.dst), " +
          s"$out AS (SELECT l.v, least(l.lbl, COALESCE(nm$out.nm, l.lbl)) AS lbl " +
          s"FROM $prev l LEFT JOIN nm$out ON l.v = nm$out.v)"
      s"WITH $edgesCte, " +
        "sm AS (SELECT p_partkey FROM part WHERE p_size <= 2), " +
        "es AS (SELECT src, dst FROM e " +
        "WHERE src IN (SELECT p_partkey FROM sm) AND dst IN (SELECT p_partkey FROM sm)), " +
        "d AS (SELECT src, dst FROM es UNION ALL SELECT dst AS src, src AS dst FROM es), " +
        "l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM d), " +
        round("l0", "l1") + ", " + round("l1", "l2") + ", " +
        round("l2", "l3") + ", " + round("l3", "l4") + ", " +
        "sizes AS (SELECT lbl, CAST(count(*) AS BIGINT) AS sz FROM l4 GROUP BY lbl) " +
        "SELECT sz AS comp_size, CAST(count(*) AS BIGINT) AS n_components " +
        "FROM sizes GROUP BY sz ORDER BY comp_size"
    })

  /** Common-neighbor Jaccard similarity — the classic link-prediction /
    * "related items" feature: for part pairs sharing ≥ 1 neighbor in the
    * p_size < 10 subgraph, J = |N(a)∩N(b)| / (deg(a)+deg(b)−|N(a)∩N(b)|),
    * emitted for pairs with ≥ 3 common neighbors (noise floor), ordered
    * by (common desc, pair). Pair generation is the TILED wedge join
    * (the qllm_srp_lsh pattern — see below); the count + two degree
    * joins are all keyed; J is ONE IEEE division of exact integers. */
  private val qgraphJaccard = QueryDef(
    "qgraph_jaccard",
    build = (spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val small = Tables.part(spark, sfDir)
        .filter(col("p_size") < 10)
        .select(col("p_partkey"))
      val es = edges(spark, sfDir)
        .join(broadcast(small.withColumnRenamed("p_partkey", "src")), Seq("src"))
        .join(broadcast(small.withColumnRenamed("p_partkey", "dst")), Seq("dst"))
        .select(col("src"), col("dst"))
      val d = Ckpt(
        es.unionAll(es.select(col("dst").as("src"), col("src").as("dst"))))
      // deg feeds THREE consumers (the wedge-count sizing probe below and
      // the two final degree joins), so it is checkpointed once instead
      // of re-running the degree aggregate per consumer.
      val deg = Ckpt(d.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg")))
      // TILED wedge enumeration (the qllm_srp_lsh cluster-collapse fix
      // applied to graph hubs): a plain self-join keyed on the shared
      // neighbor puts a hub's ENTIRE C(deg, 2) pair enumeration in one
      // task, and hub degree grows with scale even though MEAN degree is
      // flat — measured 3.9× cost on 3× data sf10 → sf30, the one
      // non-contract superlinear curve left after round 9. Each center's
      // dst-ordered neighbor rows are cut into fixed `tile`-row tiles and
      // the join key becomes (center, tile_a, tile_b): the WEDGE SET is
      // byte-identical (ids are ordered within the center, so a < b
      // implies tile_a <= tile_b, and each ordered tile pair is produced
      // exactly once from each side), but the hub's quadratic work now
      // lands in bounded ≤ tile² tasks that spread across the cluster.
      // GraphSpec pins wedge-multiset equality against the naive join.
      val tile = 1024L
      val wIdx = Window.partitionBy(col("src")).orderBy(col("dst"))
      val idx = d
        .withColumn("__i", row_number().over(wIdx).cast(LongType) - 1L)
        .withColumn("__tmax",
          floor((count(lit(1)).over(Window.partitionBy(col("src"))) - 1L)
            / lit(tile)).cast(IntegerType))
        .withColumn("__t", floor(col("__i") / lit(tile)).cast(IntegerType))
      val l = idx.select(col("src").as("n"), col("dst").as("a"),
        col("__t").as("__p"), explode(sequence(col("__t"), col("__tmax"))).as("__q"))
      val r = idx.select(col("src").as("n"), col("dst").as("b"),
        explode(sequence(lit(0), col("__t"))).as("__p"), col("__t").as("__q"))
      // The wedge-pair aggregate's keys are nearly UNIQUE (sf10: 48.2 M
      // distinct pairs from 48.3 M wedges), so map-side partial
      // aggregation reduces nothing and the final per-task hash map holds
      // wedges/partitions keys; at a fixed partition count it outgrows
      // the per-task budget with the corpus (PERF.md round 12). The EXACT
      // wedge count, Σ deg·(deg−1)/2, is one metadata-scale job over the
      // degree frame that exists anyway, and sizes the aggregate's
      // partitions at [[TableStats.rowsPerTask]]; when that does not beat
      // the session default the aggregate keeps its own exchange. The
      // pair key packs into ONE long (partkeys < 2³¹ by construction), so
      // each map entry is a single fixed-width key.
      val wedgeCnt = Option(
        deg.agg(sum(expr("deg * (deg - 1) div 2")).cast(LongType)).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      val nparts = TableStats.sizedPartitions(spark, wedgeCnt,
        TableStats.rowsPerTask(spark), margin = 1.25)
      val pairs = l.join(r, Seq("n", "__p", "__q"))
        .filter(col("a") < col("b"))
        .select((shiftleft(col("a"), 32) + col("b")).as("__pk"))
      val common = nparts.fold(pairs)(n => pairs.repartition(n, col("__pk")))
        .groupBy(col("__pk"))
        .agg(count(lit(1)).as("n_common"))
        .filter(col("n_common") >= 3)
        .select(shiftright(col("__pk"), 32).as("a"),
          col("__pk").bitwiseAND(lit(4294967295L)).as("b"), col("n_common"))
      // Round 14 (guide §3): the top-100 cut moves BEFORE the two degree
      // joins — the ordering key (n_common desc, a, b) is a total order
      // (pairs are unique) that never looks at deg, so TakeOrdered over
      // the pair aggregate picks the identical 100 rows and the degree
      // joins become 100-row-build broadcast probes over the checkpointed
      // node-scale deg frame, instead of two pair-scale SortMergeJoins
      // that shuffled deg (node-scale) and the full ≥3-common pair set
      // just to throw away everything but 100 rows.
      val top = common.orderBy(col("n_common").desc, col("a"), col("b"))
        .limit(100)
      broadcast(broadcast(top)
        .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), "a"))
        .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), "b")
        .select(col("a"), col("b"), col("n_common"), col("deg_a"), col("deg_b"),
          (col("n_common").cast(DoubleType) /
            (col("deg_a") + col("deg_b") - col("n_common")).cast(DoubleType))
            .as("jaccard"))
        .orderBy(col("n_common").desc, col("a"), col("b"))
        .limit(100)
    },
    oracle = Some(
      s"WITH $edgesCte, " +
        "sm AS (SELECT p_partkey FROM part WHERE p_size < 10), " +
        "es AS (SELECT src, dst FROM e " +
        "WHERE src IN (SELECT p_partkey FROM sm) AND dst IN (SELECT p_partkey FROM sm)), " +
        "d AS (SELECT src, dst FROM es UNION ALL SELECT dst AS src, src AS dst FROM es), " +
        "deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg FROM d GROUP BY src), " +
        "cm AS (SELECT x.dst AS a, y.dst AS b, CAST(count(*) AS BIGINT) AS n_common " +
        "FROM d x JOIN d y ON x.src = y.src AND x.dst < y.dst GROUP BY 1, 2 " +
        "HAVING count(*) >= 3) " +
        "SELECT a, b, n_common, da.deg AS deg_a, db.deg AS deg_b, " +
        "CAST(n_common AS DOUBLE) / CAST(da.deg + db.deg - n_common AS DOUBLE) AS jaccard " +
        "FROM cm JOIN deg da ON da.v = a JOIN deg db ON db.v = b " +
        "ORDER BY n_common DESC, a, b LIMIT 100"))

  /** Bounded multi-source BFS — hop-distance histogram from a seed set
    * (every subgraph node whose key is ≡ 0 mod 100) in the p_size ≤ 5
    * subgraph, three relaxation rounds unrolled (dist ≤ 3; beyond-
    * horizon nodes report −1). Each round is the qgraph_cc shape — a
    * keyed join edge⋈dist, a min-aggregate per destination, and a
    * least-merge — all integer min/plus, so the fixpoint prefix is
    * bit-exact on both engines (the oracle unrolls the identical
    * rounds; no recursive CTE dialect risk). The unreached sentinel is
    * 999 internally and only mapped to −1 in the final projection.
    *
    * Scale: the textbook Pregel relaxation as keyed shuffles of
    * (node, int) pairs; at 100 TB the same bucketed-adjacency note as
    * PageRank applies, and a frontier-only variant (join the PREVIOUS
    * round's improvements instead of all labels) cuts late-round
    * traffic — with 3 rounds on a dense co-purchase graph the full
    * relabel is the simpler, equally-shaped plan. */
  private val qgraphBfs = QueryDef(
    "qgraph_bfs",
    build = (spark, sfDir) => {
      val small = Tables.part(spark, sfDir)
        .filter(col("p_size") <= 5)
        .select(col("p_partkey"))
      val es = edges(spark, sfDir)
        .join(broadcast(small.withColumnRenamed("p_partkey", "src")), Seq("src"))
        .join(broadcast(small.withColumnRenamed("p_partkey", "dst")), Seq("dst"))
        .select(col("src"), col("dst"))
      // The qgraph_cc self-loop collapse applied to the relaxation
      // rounds: each round is ONE join + ONE min-aggregate, and the dist
      // frame is referenced ONCE per round so the 3 unrolled rounds grow
      // the plan linearly.
      // A self-loop row relaxes at +0 (src = dst identifies it — the
      // canonical src < dst edge set has no real self edges), so
      //   new_dist(v) = min{ dist(u) + (u = v ? 0 : 1) : (u,v) ∈ d ∪ self }
      //              = least(dist(v), min over neighbours + 1) — identical
      // (unreached neighbours relax to 999 + 1, which the min against the
      // self row's 999 discards, exactly like least/coalesce would).
      val dd = es.unionAll(es.select(col("dst").as("src"), col("src").as("dst")))
      val d = Ckpt(dd.unionAll(
        dd.select(col("src"), col("src").as("dst")).distinct()))
      var dist = d.filter(col("src") === col("dst"))
        .select(col("src").as("v"),
          when(col("src") % 100 === 0, 0L).otherwise(999L).as("dist"))
      for (_ <- 1 to 3) {
        dist = d.join(dist, d("src") === dist("v"))
          .select(col("dst").as("v2"),
            when(d("src") === d("dst"), col("dist"))
              .otherwise(col("dist") + 1L).as("nd"))
          .groupBy(col("v2")).agg(min(col("nd")).as("dist"))
          .select(col("v2").as("v"), col("dist"))
      }
      dist.select(when(col("dist") >= 999L, -1L).otherwise(col("dist")).as("dist"))
        .groupBy(col("dist")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("dist"))
    },
    oracle = Some {
      def round(prev: String, out: String): String =
        s"nm$out AS (SELECT d.dst AS v, min($prev.dist + 1) AS nm FROM d " +
          s"JOIN $prev ON d.src = $prev.v GROUP BY d.dst), " +
          s"$out AS (SELECT l.v, least(l.dist, COALESCE(nm$out.nm, l.dist)) AS dist " +
          s"FROM $prev l LEFT JOIN nm$out ON l.v = nm$out.v)"
      s"WITH $edgesCte, " +
        "sm AS (SELECT p_partkey FROM part WHERE p_size <= 5), " +
        "es AS (SELECT src, dst FROM e " +
        "WHERE src IN (SELECT p_partkey FROM sm) AND dst IN (SELECT p_partkey FROM sm)), " +
        "d AS (SELECT src, dst FROM es UNION ALL SELECT dst AS src, src AS dst FROM es), " +
        "d0 AS (SELECT DISTINCT src AS v, CASE WHEN src % 100 = 0 THEN 0 ELSE 999 END AS dist FROM d), " +
        round("d0", "d1") + ", " + round("d1", "d2") + ", " + round("d2", "d3") + " " +
        "SELECT CAST(CASE WHEN dist >= 999 THEN -1 ELSE dist END AS BIGINT) AS dist, " +
        "CAST(count(*) AS BIGINT) AS n_nodes FROM d3 " +
        "GROUP BY 1 ORDER BY dist"
    })

  def defs: Seq[QueryDef] =
    Seq(qgraphDegree, qgraphTriangles, qgraphPagerank, qgraphKcore, qgraphCc,
      qgraphJaccard, qgraphBfs)
}
