package graft.queries

import graft.{ScratchDirs, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational operator coverage (SURVEY.md §2.1-2.8) over the harness
  * tables, each with an exact DuckDB oracle. Every output column is
  * explicitly aliased identically in both engines; floats are rounded on
  * both sides so the driver's value-hash compare is engine-independent.
  *
  * ==Twin-authoring rules (learned the hard way; r7's only red gates)==
  *  - Every integer aggregate in a twin ends `::BIGINT`: DuckDB's
  *    `sum(BIGINT)` returns HUGEINT, which pandas decays to float64, so
  *    the driver hashes `3.0` against Spark's `3` and the gate goes red
  *    even though rows/schema match (r7 j9/st3).
  *  - No bare `round(x)` on doubles: Spark's `round` goes through the
  *    shortest-decimal BigDecimal repr while DuckDB rounds the binary
  *    value, so ties can diverge. Use the repo-wide
  *    `floor(x * scale + 0.5)` fixed-point convention on BOTH sides.
  *  - No array/struct columns in gate output: the driver's pandas
  *    compare sorts rows and cannot sort ndarray cells (r7 v15 crash).
  *    posexplode to scalar rows in Spark, `unnest(generate_series(...))`
  *    in the twin.
  */
object RelationalQueries {

  /** Shared by j8 (broadcast inequality form) and j8b (bucketed equi
    * form): both must produce the identical result. */
  private val RangeJoinOracle =
    """WITH periods AS (
      |  SELECT 'y' || y::VARCHAR AS period,
      |         make_timestamp(y, 1, 1, 0, 0, 0) AS ps,
      |         make_timestamp(y + 1, 1, 1, 0, 0, 0) AS pe
      |  FROM (SELECT unnest(generate_series(1995, 2000)) AS y))
      |SELECT period, count(*) AS n_orders,
      |       floor((sum((floor(o_totalprice * 100))::BIGINT) / 100.0) * 100 + 0.5) / 100.0 AS total
      |FROM orders JOIN periods
      |  ON o_orderdate >= ps AND o_orderdate < pe
      |GROUP BY 1""".stripMargin

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** DuckDB replay of [[graft.operators.Layout.zValue]]: bit i of x to
    * position 2i, bit i of y to 2i+1, as a sum of floor-div/mod terms. */
  private def zInterleaveSql(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      s"(($x // ${1L << i}) % 2) * ${1L << (2 * i)} + " +
        s"(($y // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** DuckDB twin of [[graft.functions.PolyHash]] (same as TextQueries). */
  private def hashSql(e: String): String =
    s"""list_reduce(list_prepend(0::BIGINT,
       |  [ascii(c)::BIGINT for c in string_split($e, '')]),
       |  (h, c) -> (h * 31 + c) % 1000000007)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/P1: scan + projection + pushed-down predicate.
    "s1_scan_project" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))),

    // P2: range predicate (BETWEEN).
    "p2_range_predicate" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_quantity").between(10, 20) && col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"))),

    // P3: null-guard predicate (nulls fabricated — the harness tables have
    // none — so the filter is non-vacuous).
    "p3_null_guard" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("maybe", when(col("event_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("event_type")))
        .where(col("maybe").isNotNull && col("props").isNotNull)
        .groupBy(col("maybe").as("event_type")).agg(count(lit(1)).as("cnt"))),

    // P4: numeric threshold + projection with alias.
    "p4_threshold" -> ((s, dir) =>
      t(s, dir, "customer")
        .where(col("c_acctbal") <= 1000.0)
        .select(col("c_custkey"), (floor((col("c_acctbal")) * 100 + 0.5) / 100.0).as("acctbal"))),

    // J1: equi inner join chain with a broadcast-able dimension.
    "j1_equi_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      // Sum cents as integers: exact and associative, so the parallel
      // aggregation hashes identically to the single-threaded oracle.
      orders.join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("order_cnt"),
          (floor((sum(floor(col("o_totalprice") * 100)) / 100.0) * 100 + 0.5) / 100.0).as("total_price"))}),

    // J2: left outer join with a default for misses (the word-prob lookup
    // shape — reference FlowPostLDA.scala:99-106).
    "j2_left_join_default" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_orderkey") % 7 === 0)
      val part = t(s, dir, "part").where(col("p_size") <= 25)
        .select(col("p_partkey"), col("p_retailprice"))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"), "left")
        .select(col("l_orderkey"), col("l_linenumber"),
          (floor((coalesce(col("p_retailprice"), lit(-1.0))) * 100 + 0.5) / 100.0).as("price"))}),

    // J4: left-semi join (broadcast-set membership shape).
    "j4_semi_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val hi = t(s, dir, "orders").where(col("o_totalprice") > 400000)
      cust.join(hi, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))}),

    // J5: left-anti join (customers with no high-value order — non-empty).
    "j5_anti_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val hi = t(s, dir, "orders").where(col("o_totalprice") > 350000)
      cust.join(hi, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))}),

    // A1: the corpus-builder group-count (doc=user, word=event_type).
    "a1_group_count" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id").as("doc"), col("event_type").as("word"))
        .agg(count(lit(1)).as("cnt"))),

    // A3: multi-aggregate rollup (TPC-H Q1 shape).
    "a3_group_sum" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (floor((sum(col("l_quantity"))) * 100 + 0.5) / 100.0).as("sum_qty"),
          (floor((sum(floor(col("l_extendedprice") * 100)) / 100.0) * 100 + 0.5) / 100.0).as("sum_base_price"),
          (floor((sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)) / 100.0) * 100 + 0.5) / 100.0)
            .as("sum_disc_price"),
          (floor((sum(floor(col("l_discount") * 1000000)) / 1000000.0 / count(lit(1))) * 1000000 + 0.5) / 1000000.0).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // A5: distinct.
    "a5_distinct" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_type")).distinct()),

    // A8: scalar count.
    "a8_count" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("n"))),

    // A11: distinct aggregates (incl. two distinct counts in one pass).
    "a11_count_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))),

    // J9: salted inner equi-join (plan-level skew mitigation — the
    // static-plan/streaming complement of AQE skew handling): the large
    // side's rows spread over 8 salt sub-keys, the small side replicates
    // 8×, and the result must be ROW-IDENTICAL to the plain join — which
    // is exactly what the plain-join oracle checks. Aggregated per
    // nation so the gate artifact stays small; integral quantities keep
    // the sum exact.
    "j9_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_suppkey"), col("l_quantity"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.operators.Skew.saltedJoin(li, sup, "l_suppkey", salt = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("qty"))}),

    // J10: Bloom-prefiltered semi join — the shuffle reducer: the build
    // side's keys go into a 16 KB broadcast bitset, the probe side drops
    // non-members map-side BEFORE any shuffle, and the exact semi join
    // downstream removes the false positives. No false negatives can
    // occur, so the composed result is row-identical to the plain semi
    // join — which is the oracle.
    "j10_bloom_semi" -> ((s, dir) => {
      def keyed(c: org.apache.spark.sql.Column) = graft.functions.PolyHash.poly_hash(
        concat(lit("c:"), c.cast("string")), 31L)
      val hi = t(s, dir, "orders").where(col("o_totalprice") > 150000)
        .select(col("o_custkey")).distinct()
      val bloom = graft.operators.Sketches.bloomBuild(
        hi.withColumn("bh", keyed(col("o_custkey"))), col("bh"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .withColumn("bh", keyed(col("c_custkey")))
      val pre = graft.operators.Sketches.bloomMightContain(
        cust, bloom, col("bh")).drop("bh")
      pre.join(hi.select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"))}),

    // J11: multi-way star join (TPC-H Q5 shape) — the canonical
    // fact-to-many-dims plan. lineitem⋈orders⋈customer⋈supplier shuffle
    // on their keys (at 100 TB all four sides are large); nation/region
    // are true dims, hinted broadcast so the last two hops stay map-side.
    // The order-date range and region filters sit on the dim inputs where
    // Catalyst pushes them into the scans, shrinking the first shuffle.
    // Revenue is summed in exact per-row cents (associative integers), so
    // the parallel aggregation hashes identically to the oracle.
    "j11_star_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region").where(col("r_name") === "ASIA")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          (floor((sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)) / 100.0) * 100 + 0.5) / 100.0)
            .as("revenue"))}),

    // A12: HyperLogLog distinct-count sketch — distinct users per event
    // type in ONE aggregation pass with a 4 KB mergeable buffer per group
    // (the 100 TB shape: no per-value shuffle, unlike a11's exact
    // countDistinct). Runs over the engine-replayable PolyHash stream so
    // the DuckDB twin derives byte-identical registers; nonzero and the
    // scaled indicator sum are exact integers, the estimate is the same
    // literal double formula on both sides (floor-rounded to 4 dp).
    "a12_hll_distinct" -> ((s, dir) => {
      val hashed = t(s, dir, "events").where(col("user_id").isNotNull)
        .withColumn("uh", graft.functions.PolyHash.poly_hash(
          concat(lit("u:"), col("user_id").cast("string")), 31L))
      graft.operators.Sketches.hllDistinct(
          hashed, Seq(col("event_type")), col("uh"), p = 12)
        .select(col("event_type"), col("nonzero"), col("sum_scaled"),
          (floor(col("estimate") * 10000 + 0.5) / 10000.0).as("est"))}),

    // A13: Count-Min frequency sketch — per-event-type visit counts of a
    // 10-user probe set estimated from a 4×2048 counter sketch built in
    // ONE aggregation pass (the fixed-size heavy-hitter shape; exact
    // per-user counts would shuffle every user). Build is a custom
    // mergeable Aggregator; the point query is pure column ops over the
    // flat counter array. Everything is integer arithmetic over the
    // replayable PolyHash stream, so the twin rebuilds counter-identical
    // sketches — estimates match exactly, no float anywhere.
    "a13_cms_counts" -> ((s, dir) => {
      val ev = t(s, dir, "events").where(col("user_id").isNotNull)
        .withColumn("uh", graft.functions.PolyHash.poly_hash(
          concat(lit("u:"), col("user_id").cast("string")), 31L))
      val sk = graft.operators.Sketches.cmsSketch(
        ev, Seq(col("event_type")), col("uh"))
      val probes = s.range(0, 10).toDF("uid")
        .withColumn("ph", graft.functions.PolyHash.poly_hash(
          concat(lit("u:"), col("uid").cast("string")), 31L))
      graft.operators.Sketches.cmsEstimate(sk, probes, col("ph"))
        .select(col("event_type"), col("uid"), col("est"))}),

    // A15: CMS-guided heavy hitters — users with ≥ 80 events found
    // WITHOUT a per-distinct-key shuffle: one sketch pass, a map-side
    // row prune against the broadcast sketch, exact count over the
    // surviving candidates only. CMS never underestimates → no false
    // negatives → the composed result is row-identical to the plain
    // GROUP BY ... HAVING, which is the twin (j10's Bloom-semi-join
    // argument, applied to aggregation).
    "a15_cms_heavy" -> ((s, dir) => {
      val ev = t(s, dir, "events").where(col("user_id").isNotNull)
        .withColumn("uh", graft.functions.PolyHash.poly_hash(
          concat(lit("u:"), col("user_id").cast("string")), 31L))
      graft.operators.Sketches.cmsHeavyHitters(
        ev, col("user_id"), col("uh"), threshold = 80L)}),

    // A16: K-minimum-values set algebra — pairwise |A|/|B|/|A∪B|/Jaccard/
    // |A∩B| estimates across the five event types' user sets, from one
    // bottom-64 sketch per set (the corpus-overlap / decontamination
    // measurement at sketch cost; a12 estimates ONE set's size, this
    // compares sets). Every estimate is an integer div over the same
    // scrambled PolyHash stream, so the twin replays bit-for-bit.
    "a16_kmv_setops" -> ((s, dir) => {
      val ev = t(s, dir, "events").where(col("user_id").isNotNull)
        .withColumn("uh", graft.functions.PolyHash.poly_hash(
          concat(lit("u:"), col("user_id").cast("string")), 31L))
      val sk = graft.operators.Sketches.kmvSketch(
        ev, Seq(col("event_type")), col("uh"), k = 64)
      graft.operators.Sketches.kmvSetOps(sk, "event_type", k = 64)}),

    // A14: HDR histogram quantile sketch — per-group p50/p90/p99 price
    // cents from a fixed ~9 KB mergeable counter buffer in ONE
    // aggregation pass (the quantile complement of a12/a13; a7's exact
    // quantiles shuffle and sort every value per group). Bucket index is
    // pure bit arithmetic on the value (HdrHistogram base-2 ranges with
    // 32 linear sub-buckets → relative error ≤ 1/32), the reported
    // quantile is the bucket's exact integer lower bound, rank is an
    // integer ceil-div — the DuckDB twin replays the identical histogram
    // from the value's bit length, no float anywhere.
    "a14_hdr_quantiles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("cents",
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
      graft.operators.Sketches.hdrQuantiles(
        li, Seq(col("l_returnflag")), col("cents"))}),

    // G2: PageRank over the customer↔supplier trade graph (orders ⋈
    // lineitem, symmetrized; customer node = 2k, supplier node = 2k+1) —
    // the link-authority quality signal of web-corpus curation, and the
    // iterate-join-aggregate template at 100 TB scale. Three fixed
    // iterations in exact integer micro-units (floor divs, damping
    // 850/1000), so the DuckDB twin unrolls the same three rounds and
    // matches hash-exactly — no floating reduction order anywhere.
    // The edge set uses each order's FIRST line item (l_linenumber = 1):
    // one trade edge per order keeps the graph |orders|-sized — at the
    // 30× replica the unfiltered distinct (cust, supp) set is 17.6M
    // pairs, which the Spark side iterates over fine but blows DuckDB's
    // spill past the sandbox disk when the twin replays three rounds.
    "g2_pagerank" -> ((s, dir) => {
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "lineitem").where(col("l_linenumber") === 1),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("su"))
        .distinct()
      val edges = pairs.select((col("c") * 2).as("src"), (col("su") * 2 + 1).as("dst"))
        .union(pairs.select((col("su") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
      graft.operators.Graph.pageRank(edges, iterations = 3)}),

    // G5: deterministic label propagation (3 synchronous rounds,
    // neighbor-mode labels, min-label tie-break) over the same trade
    // bipartite graph as g2 — the community detector for link-graph
    // curation. The twin unrolls the identical three rounds with
    // windowed argmax picks.
    "g5_label_prop" -> ((s, dir) => {
      val pairs = t(s, dir, "orders")
        .join(t(s, dir, "lineitem").where(col("l_linenumber") === 1),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("su"))
        .distinct()
      val edges = pairs.select((col("c") * 2).as("src"),
        (col("su") * 2 + 1).as("dst"))
      graft.operators.Graph.labelPropagation(edges, iterations = 3)}),

    // G3: per-node triangle counts (degree-oriented wedge join — the
    // clustering-coefficient numerator) over the consecutive-event user
    // graph: an edge joins the users of adjacent event_ids, giving a
    // sparse clustered graph (~6.5k edges, ~110k triangles at sf0.01).
    // The twin counts each triangle once via the a<b<c canonical 3-way
    // join — orientation-independent, so it replays the oriented
    // algorithm's output exactly.
    "g3_triangles" -> ((s, dir) => {
      val ev = t(s, dir, "events").where(col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"))
      val pairs = ev.as("e1").join(ev.as("e2"),
          col("e2.event_id") === col("e1.event_id") + 1)
        .select(col("e1.user_id").as("src"), col("e2.user_id").as("dst"))
      graft.operators.Graph.triangleCounts(pairs)}),

    // Z1: Z-order (Morton) curve values — the clustering key behind
    // two-dimension file pruning (Layout.zOrderWrite range-partitions on
    // exactly this column; the layout itself is spec-checked via per-file
    // min/max boxes, which a row-hash oracle cannot see). The interleave
    // is pure shift/mask integer arithmetic, replayed term-by-term in the
    // twin.
    "z1_zorder" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("x", pmod(col("o_custkey"), lit(65536L)))
        .withColumn("y", pmod(
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long"), lit(65536L)))
      o.select(col("o_orderkey"),
        graft.operators.Layout.zValue(col("x"), col("y")).as("zval"))}),

    // Z2: the layout CLAIM driver-checked (z1 only checks the curve
    // math): orders written z-clustered on (custkey, orderdate-day) via
    // Layout.zOrderWrite, re-scanned with a 2-D box predicate. The row
    // set must equal the plain filter (the twin), AND the box rows must
    // be physically concentrated — `files_pruned` asserts the box
    // touches at most half the written files (measured: 2-3 of 16
    // z-ordered vs ~16 of 16 for a random layout), so a layout
    // regression flips the column and hash-reds the gate. The two file
    // counts are bounded driver-side scalars (≤ numFiles), not
    // data-scale collects; at 100 TB the same footer min/max boxes
    // drive row-group skipping.
    "z2_zorder_prune" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("x", pmod(col("o_custkey"), lit(65536L)))
        .withColumn("y", pmod(
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long"), lit(65536L)))
        .select("o_orderkey", "x", "y")
      val path = ScratchDirs.create("z2_layout").toString
      graft.operators.Layout.zOrderWrite(o, path, col("x"), col("y"))
      val z = s.read.parquet(path)
      val box = z.where(col("x").between(100L, 300L) &&
        col("y").between(9500L, 10000L))
      val nTotal = z.select(input_file_name()).distinct.count()
      val nBox = box.select(input_file_name()).distinct.count()
      box.select("o_orderkey", "x", "y")
        .withColumn("files_pruned", lit(nBox * 2 <= nTotal))}),

    // Z3: manifest-pruned read — the Iceberg/Delta pattern z2 stops
    // short of: ONE stats pass builds a per-file min/max manifest, and
    // the box query then selects its file LIST from the manifest and
    // scans ONLY those files (z2 still opened every footer). Row result
    // must equal the plain filter; files_pruned asserts the manifest
    // kept ≤ half the files out of the scan.
    "z3_manifest_prune" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("x", pmod(col("o_custkey"), lit(65536L)))
        .withColumn("y", pmod(
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long"), lit(65536L)))
        .select("o_orderkey", "x", "y")
      val path = ScratchDirs.create("z3_layout").toString
      graft.operators.Layout.zOrderWrite(o, path, col("x"), col("y"))
      val manifest = graft.operators.Layout.fileStats(s, path, Seq("x", "y"))
      val (scan, nSel, nTot) = graft.operators.Layout.prunedRead(s, path,
        manifest, Map("x" -> (100L, 300L), "y" -> (9500L, 10000L)))
      scan.select("o_orderkey", "x", "y")
        .withColumn("files_pruned", lit(nSel * 2 <= nTot))}),

    // Z5: HIVE-PARTITIONED write + partition-PRUNED read — the
    // directory-level skip z2/z3 (file-level stats) complement: the
    // write lays o_orderstatus out as partition directories and the
    // predicate becomes a PartitionFilter, so non-matching partitions
    // are never opened (files_pruned asserts it — 3 statuses, ≥ 2/3 of
    // files skipped). At 100 TB this is the first-line scan reducer for
    // every date/source-partitioned corpus.
    "z5_partition_prune" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val path = ScratchDirs.create("z5_part").toString
      o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
      val r = s.read.parquet(path)
      val nTot = r.select(input_file_name()).distinct.count()
      val sel = r.where(col("o_orderstatus") === "F")
      val nSel = sel.select(input_file_name()).distinct.count()
      sel.select(col("o_orderkey"), col("cents"))
        .withColumn("files_pruned", lit(nSel * 3 <= nTot * 2))}),

    // O1: ORC source/sink round-trip — the second columnar format the
    // engine speaks natively (Spark's built-in ORC datasource): write,
    // read back with a pushed-down predicate, aggregate in exact
    // integers. The twin runs the same query over the parquet table —
    // the format must change nothing.
    "o1_orc_roundtrip" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      val path = ScratchDirs.create("o1_orc").toString
      li.write.mode("overwrite").orc(path)
      s.read.orc(path)
        .where(col("l_quantity") > 25)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("qty"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
            .as("cents"))}),

    // O2: gzipped-JSONL source/sink round-trip — the interchange format
    // training corpora actually ship (.jsonl.gz): write with gzip
    // compression, read back with an EXPLICIT schema (schema inference
    // is a second full scan — never at 100 TB), aggregate in exact
    // integers precomputed BEFORE the text round-trip so no float ever
    // crosses the decimal boundary. Twin = the same query over parquet.
    "o2_jsonl_roundtrip" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("qty"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      val path = ScratchDirs.create("o2_jsonl").toString
      li.write.mode("overwrite").option("compression", "gzip").json(path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("l_returnflag",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("qty",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cents",
          org.apache.spark.sql.types.LongType)))
      s.read.schema(schema).json(path)
        .where(col("qty") > 25)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty"),
          sum(col("cents")).as("cents"))}),

    // A17: table profiling — the ANALYZE-stats layer: four numeric
    // columns melt to narrow (col_name, v) rows and ONE hash aggregation
    // computes rows/nulls/exact-ndv/min/max/sum-in-micros for all of
    // them in a single shuffle (never one scan per column). Nulls are
    // injected deterministically (extendedprice on every 13th orderkey)
    // so the null-count path is really exercised; the twin replays the
    // injection and one UNION ALL branch per column.
    "a17_profile_num" -> ((s, dir) =>
      graft.operators.Profile.numericProfile(
        t(s, dir, "lineitem").withColumn("l_extendedprice",
          when(col("l_orderkey") % 13 === 0, lit(null))
            .otherwise(col("l_extendedprice"))),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // A17b: the string-column profile (lexicographic bounds + total
    // length), same melt + one-pass shape over orders.
    "a17b_profile_str" -> ((s, dir) =>
      graft.operators.Profile.stringProfile(
        t(s, dir, "orders").withColumn("o_orderpriority",
          when(col("o_orderkey") % 11 === 0, lit(null))
            .otherwise(col("o_orderpriority"))),
        Seq("o_orderstatus", "o_orderpriority"))),

    // A18: PSI distribution drift — the train/serve shift monitor: bins
    // derived from the REFERENCE window's bounds (pre-Jan-20 events),
    // per-bin ref/cur frequencies, (p−q)·ln(p/q) term per bin with the
    // standard half-count smoothing for empty bins. Counts are exact
    // integers; the term is micro-rounded (the f4 convention).
    "a18_psi_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val ts = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts div 1000"))
        case _ => col("ts").cast("timestamp")
      }
      graft.operators.Profile.psiDrift(
        ev.withColumn("is_ref", ts < lit("2024-01-20").cast("timestamp")),
        col("value"), col("is_ref"), bins = 10)}),

    // U4: snapshot diff — the CDC/audit primitive for pipeline re-runs:
    // one full-outer join on the key classifies every row of two table
    // versions as added / removed / changed (with the changed-column
    // list, null-safe per column) and emits only the delta. The "new"
    // version is derived deterministically (drop %97 keys, bump
    // totalprice on %13, clone %31 rows to fresh keys) so the twin
    // replays the exact classification.
    "u4_snapshot_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val maxk = o.agg(max(col("o_orderkey").cast("long"))).head().getLong(0)
      val nw = o.where(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .union(o.where(col("o_orderkey") % 31 === 0)
          .select((col("o_orderkey") + maxk).as("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice")))
      graft.operators.Diff.snapshotDiff(o, nw, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))}),

    // U5: batch MERGE (upsert + delete) — ANSI MERGE semantics as one
    // full-outer join plan: the source updates %13 keys (price +5,
    // status 'U'), deletes %97 keys, and inserts %31 rows cloned to
    // fresh keys; delete wins over update on the overlap (%1261). The
    // twin replays the same three branches with anti/semi joins.
    "u5_merge" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val maxk = o.agg(max(col("o_orderkey").cast("long"))).head().getLong(0)
      val k = col("o_orderkey")
      val src = o.where(k % 13 === 0 || k % 97 === 0)
        .select(k.as("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 5.0).as("o_totalprice"))
        .union(o.where(k % 31 === 0)
          .select((k + maxk).as("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice")))
      graft.operators.Diff.mergeInto(o, src, Seq("o_orderkey"),
          deleteWhen = Some(col("o_orderkey") % 97 === 0))
        .select(col("o_orderkey"), col("o_orderstatus"),
          (floor(col("o_totalprice") * 100 + 0.5) / 100.0).as("total"))}),

    // U6: SCD Type 2 versioning — a customer dimension with history
    // rows folds in a snapshot that changes %7 balances, repeats %13
    // rows verbatim (must stay untouched), and adds %11 clones under
    // fresh keys; changed keys close their current version at the
    // effective instant and open a new one, history passes through.
    "u6_scd2" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_custkey").cast("long").as("c_custkey"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("bal_cents"),
        col("c_mktsegment").as("seg"))
      val maxk = c.agg(max(col("c_custkey"))).head().getLong(0)
      val k = col("c_custkey")
      val hist = c.where(k % 19 === 0).select(k,
        (col("bal_cents") - 100).as("bal_cents"), col("seg"),
        lit(0L).as("valid_from_us"), lit(500000L).as("valid_to_us"),
        lit(false).as("is_current"))
      val cur = c.select(k, col("bal_cents"), col("seg"),
        when(k % 19 === 0, lit(500000L)).otherwise(lit(0L))
          .as("valid_from_us"),
        lit(null).cast("long").as("valid_to_us"), lit(true).as("is_current"))
      val ch = c.where(k % 7 === 0)
        .select(k, (col("bal_cents") + 250).as("bal_cents"), col("seg"))
        .union(c.where(k % 13 === 0 && k % 7 =!= 0)
          .select(k, col("bal_cents"), col("seg")))
        .union(c.where(k % 11 === 0)
          .select((k + maxk).as("c_custkey"), col("bal_cents"), col("seg")))
      graft.operators.Diff.scdApply(hist.unionByName(cur), ch,
        Seq("c_custkey"), Seq("bal_cents", "seg"), effectiveUs = 1000000L)}),

    // Z4: small-file compaction driver-gated — orders written as 64
    // deliberately tiny files, compacted by input-bytes sizing; the row
    // set must survive identically (twin = plain projection) and
    // `files_compacted` asserts the rewrite actually collapsed the file
    // count (≤ 1/8 of the input files), so a sizing regression flips
    // the column and hash-reds the gate.
    "z4_compact" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      val frag = ScratchDirs.create("z4_frag").toString
      o.repartition(64).write.mode("overwrite").parquet(frag)
      val out = ScratchDirs.create("z4_out").toString
      val (nIn, nOut, _) = graft.operators.Layout.compact(s, frag, out,
        targetBytes = 1L << 20, maxFiles = Some(8))
      s.read.parquet(out)
        .select(col("o_orderkey"),
          (floor(col("o_totalprice") * 100 + 0.5) / 100.0).as("total"))
        .withColumn("files_compacted", lit(nOut * 8 <= nIn))}),

    // U3: intersect / except set operators.
    "u3_intersect_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.where(col("o_totalprice") > 200000).select("o_custkey")
      val recent = o.where(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
        .select("o_custkey")
      val both = hi.intersect(recent).withColumn("tag", lit("both"))
      val hiOnly = hi.except(recent).withColumn("tag", lit("hi_only"))
      both.union(hiOnly)}),

    // X5: pivot (event-type counts as columns per user).
    "x5_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)),

    // D5: calendar-bucketed aggregation (date_trunc month).
    "d5_date_trunc" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")
          .as("month"))
        .agg(count(lit(1)).as("n"),
          (floor((sum(floor(col("o_totalprice") * 100)) / 100.0) * 100 + 0.5) / 100.0).as("total"))),

    // T1: global top-k via orderBy+limit (TakeOrderedAndProject), with a
    // unique tiebreak so the k-th row is deterministic.
    "t1_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(50)
        .select(col("o_orderkey"), (floor((col("o_totalprice")) * 100 + 0.5) / 100.0).as("total"))),

    // T5: GROUPED top-k via the bounded-heap aggregator — the scale
    // answer to `row_number() <= k` (which shuffles and sorts EVERY row;
    // this ships ≤ k entries per group per partition, map-side combined,
    // no sort). 97 hash groups × top-5 orders by cent-exact totalprice,
    // ids break ties; the twin IS the window form, so the gate proves
    // the bounded-state plan computes the identical relation.
    "t5_grouped_topk" -> ((s, dir) =>
      graft.operators.TopK.groupedTopK(
        t(s, dir, "orders")
          .select(pmod(col("o_custkey"), lit(97L)).as("g"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
            col("o_orderkey")),
        Seq(col("g")), col("cents"), col("o_orderkey"), k = 5)),

    // U1: positional union then aggregate.
    "u1_union" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.where(col("o_totalprice") > 300000)
        .select(col("o_orderpriority"), lit("hi").as("bucket"))
      val lo = o.where(col("o_totalprice") < 50000)
        .select(col("o_orderpriority"), lit("lo").as("bucket"))
      hi.union(lo).groupBy(col("o_orderpriority"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))}),

    // U3: unpivot (wide→long melt) — the inverse of r1's pivot; three
    // integer-exact metric columns become (metric, value) rows. The
    // schema-normalization step every mixed-width telemetry feed needs
    // before a union.
    "u3_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_orderkey") <= 1000)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("price_cents"),
          floor(col("l_discount") * 1000000 + 0.5).cast("long").as("disc_micros"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("qty"), col("price_cents"), col("disc_micros")),
          "metric", "value")),

    // E1: row multiplication via explode (the feedback-duplication shape —
    // reference FlowPreLDA.scala:98).
    "e1_explode" -> ((s, dir) =>
      t(s, dir, "region")
        .withColumn("copy", explode(sequence(lit(1), lit(3))))
        .select(col("r_regionkey"), col("r_name"), col("copy"))),

    // W1: running cumulative sum per partition (the ECDF window shape —
    // reference Quantiles.scala:30-38).
    "w1_window_cumsum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .where(col("o_custkey") <= 100)
        .select(col("o_custkey"), col("o_orderkey"),
          (floor((sum(col("o_totalprice")).over(w)) * 100 + 0.5) / 100.0).as("running_total"))}),

    // W2: row_number per partition (sessionization precursor).
    "w2_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          row_number().over(w).as("seq"))
        .where(col("seq") <= 5)}),

    // W4: lag/lead/ntile in one window pass — inter-event gap times per
    // user (the telemetry cadence profile) plus an ntile quartile. Gaps
    // are integer microseconds; the window's tiebreak (event_id) makes
    // every value deterministic. The twin orders by the SAME
    // micro-truncated instant Spark carries, not the raw nanos, so
    // sub-microsecond ts ties collapse identically on both sides.
    "w4_lag_lead" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .select(col("user_id"), col("event_id"),
          coalesce(col("us") - lag(col("us"), 1).over(w), lit(-1L)).as("prev_gap_us"),
          coalesce(lead(col("us"), 1).over(w) - col("us"), lit(-1L)).as("next_gap_us"),
          ntile(4).over(w).cast("long").as("quartile"))}),

    // W5: ordered funnel matching (greedy-leftmost view → click →
    // purchase per user) — per step the earliest qualifying event
    // strictly after the previous stage; one row per user who started
    // the funnel, with completion depth and stage epoch-micros.
    "w5_funnel" -> ((s, dir) =>
      graft.operators.Sessions.funnel(
        t(s, dir, "events").where(col("user_id").isNotNull),
        col("user_id"), col("ts"),
        Seq("view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
        .withColumnRenamed("key", "user_id")),

    // G1: grouping sets via rollup (beyond-reference completeness).
    "g1_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("cnt"))),

    // G4: full cube with grouping() disambiguation — every lattice level
    // in one shuffle (g1 covers the rollup subset); gmask distinguishes a
    // genuine NULL data value from a rolled-up total (a real corpus can
    // hold the coalesce sentinel). grouping() must be computed IN the
    // aggregate, where the lattice level still exists.
    "g4_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          (grouping(col("o_orderstatus")) * 2 +
            grouping(col("o_orderpriority"))).cast("long").as("gmask"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("gmask"), col("cnt"))),

    // G6: RECURSIVE CTE (Spark 4 WITH RECURSIVE, the SQL-standard
    // iterate-to-fixpoint surface) — min-hop reachability from nation 0
    // over the distinct customer→supplier trade edges, depth-bounded so
    // the UNION ALL path multiset is finite. Both engines run the SAME
    // standard SQL; the group-by collapses the path multiset to
    // (node, min_hops), so semantics — not iteration order — are gated.
    // (d6/g2 build iterative closures as DataFrame loops with
    // checkpointed lineage — the 100 TB shape; this gates the declared
    // in-engine recursion the reference's users would reach for first.)
    "g6_recursive_reach" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("g6_orders")
      t(s, dir, "customer").createOrReplaceTempView("g6_customer")
      t(s, dir, "lineitem").createOrReplaceTempView("g6_lineitem")
      t(s, dir, "supplier").createOrReplaceTempView("g6_supplier")
      s.sql("""WITH RECURSIVE e AS (
              |  SELECT DISTINCT c.c_nationkey AS a, su.s_nationkey AS b
              |  FROM g6_orders o
              |  JOIN g6_customer c ON o.o_custkey = c.c_custkey
              |  JOIN g6_lineitem l ON l.l_orderkey = o.o_orderkey
              |  JOIN g6_supplier su ON su.s_suppkey = l.l_suppkey
              |  WHERE l.l_linenumber = 1),
              |reach(n, hops) AS (
              |  SELECT CAST(0 AS BIGINT) AS n, 0 AS hops
              |  UNION ALL
              |  SELECT e.b, r.hops + 1
              |  FROM reach r JOIN e ON e.a = r.n WHERE r.hops < 3)
              |SELECT n, CAST(min(hops) AS INT) AS min_hops
              |FROM reach GROUP BY n""".stripMargin)
    }),

    // F16: VARIANT semi-structured type (Spark 4 parse_json/variant_get
    // — the open-format binary JSON the lakehouse world standardized
    // on): a nested object/array document built in closed form around
    // each event's raw props JSON, parsed ONCE to VARIANT, then typed
    // path extraction. The twin replays the same paths with DuckDB's
    // JSON operators over the same constructed text — the binary
    // variant encoding must be value-transparent.
    "f16_variant" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("f16_events")
      s.sql("""SELECT event_id,
              |  variant_get(v, '$.u.id', 'bigint') AS uid,
              |  variant_get(v, '$.u.t', 'string') AS etype,
              |  variant_get(v, '$.m[1]', 'bigint') AS m1,
              |  variant_get(v, '$.p.k', 'bigint') AS k
              |FROM (SELECT event_id,
              |        parse_json(concat('{"u":{"id":',
              |          CAST(user_id AS STRING),
              |          ',"t":"', event_type, '"},"m":[',
              |          CAST(event_id % 7 AS STRING), ',',
              |          CAST(event_id % 11 AS STRING), '],"p":',
              |          props, '}')) AS v
              |      FROM f16_events)""".stripMargin)
    }),

    // J7: true as-of join — each event matched to the latest "marker"
    // event (same user, marker ts <= event ts). Oracle: DuckDB's native
    // ASOF JOIN.
    "j7_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // collapse any (user, ts) marker ties deterministically (max id):
      // DuckDB's native ASOF picks an arbitrary tie winner, so the gate
      // compares tie-free inputs; the operator's own tiebreak is separate.
      val markers = ev.where(col("event_id") % 10 === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("marker_id"))
      graft.operators.Joins.asOfJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        markers, keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightTiebreak = Some("marker_id"))
        .select(col("event_id"), col("user_id"), col("marker_id"))}),

    // J7d: as-of join with a STALENESS TOLERANCE (merge_asof tolerance):
    // same match rule as j7, but a marker more than 30 minutes older
    // than the event no longer qualifies — the carry already holds the
    // nearest marker, so tolerance is one filter, never a re-search.
    "j7d_asof_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val markers = ev.where(col("event_id") % 10 === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("marker_id"))
      graft.operators.Joins.asOfJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        markers, keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightTiebreak = Some("marker_id"),
        toleranceMicros = Some(30L * 60 * 1000000))
        .select(col("event_id"), col("user_id"), col("marker_id"))}),

    // W3: batch sessionization (gaps-and-islands) — per-user sessions with
    // a 6-hour gap rule, summarized per session. The batch twin of the
    // streaming session_window path.
    "w3_sessionize" -> ((s, dir) =>
      graft.operators.Sessions.sessions(t(s, dir, "events"),
        col("user_id"), col("ts"), col("event_id"), gapSeconds = 21600L)),

    // ST3: windowed aggregation behind the driver's oracle — tumbling
    // 1-hour event counts + exact cent sums per event type, executed as a
    // real Structured Streaming job in APPEND mode to a file sink (the
    // production shape; st1 covers stateless maps, st2 custom state, this
    // covers built-in windowed-agg state). The watermark cutoff is part
    // of the checked semantics: only CLOSED windows (end ≤ max event
    // time at drain) are emitted, and the DuckDB twin replays exactly
    // that rule. Cent sums keep the aggregation integer-exact.
    "st3_stream_window" -> ((s, dir) => {
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val ev = (rawSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        // TIMESTAMP_NS parquet surfaces as NTZ under the UTC session;
        // watermarks demand TimestampType — same instants, cast is free
        case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
      }).withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      val agg = graft.streaming.StreamingScore.windowedEventStats(
        ev, col("ts"), col("event_type"), col("cents"))
      val out = ScratchDirs.create("st3_out").toString
      val ckpt = ScratchDirs.create("st3_ckpt").toString
      agg.select(col("window.start").cast("long").as("w_start"),
          col("key").as("event_type"), col("n_events"),
          col("agg_sum").as("cents"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(out)}),

    // ST9: STREAMING drift monitoring — a18's PSI run per tumbling
    // window as a real streaming job: the reference distribution (bins
    // from the pre-Jan-20 slice's bounds, per-bin counts) is a bounded
    // batch pre-pass; the stream then only carries (window, bin) counts
    // through windowedEventStats state, and the per-window PSI terms are
    // a batch projection over the drained closed windows (densified to
    // all 10 bins via explode — a missing bin IS drift and must surface
    // with the half-count smoothing, not vanish). The twin replays the
    // reference build, st3's closed-window rule, and the term math.
    "st9_stream_psi" -> ((s, dir) => {
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      def withTs(df: org.apache.spark.sql.DataFrame) =
        rawSchema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _ => df.withColumn("ts", col("ts").cast("timestamp"))
        }
      val split = lit("2024-01-20").cast("timestamp")
      // bounded reference pre-pass: bounds + ≤10 per-bin counts
      val batch = withTs(s.read.parquet(s"$dir/events.parquet"))
        .where(col("value").isNotNull)
      val refSlice = batch.where(col("ts") < split)
      val br = refSlice.agg(min(col("value")), max(col("value"))).head()
      val (lo, hi) = (br.getDouble(0), br.getDouble(1))
      val w10 = (hi - lo) / 10
      def binOf(v: org.apache.spark.sql.Column) = least(lit(9),
        greatest(lit(0), floor((v - lit(lo)) / lit(w10)).cast("int")))
      val refCounts = refSlice.groupBy(binOf(col("value")).as("bin"))
        .agg(count(lit(1)).as("n_ref"))
      val nRef = refSlice.count().toDouble
      // the stream: per-(window, bin) counts in streaming state
      val raw = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val ev = withTs(raw).where(col("value").isNotNull)
      val agg = graft.streaming.StreamingScore.windowedEventStats(
        ev, col("ts"), binOf(col("value")), lit(0L))
      val out = ScratchDirs.create("st9_out").toString
      val ckpt = ScratchDirs.create("st9_ckpt").toString
      agg.select(col("window.start").cast("long").as("w_start"),
          col("key").cast("int").as("bin"), col("n_events"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      // batch projection over the drained stream: densify to 10 bins,
      // per-window totals, smoothed PSI term per (window, bin)
      val counts = s.read.parquet(out)
        .select(col("w_start"), col("bin"), col("n_events").as("n_cur"))
      val tot = counts.groupBy("w_start")
        .agg(sum(col("n_cur")).cast("double").as("n_win"))
      val dense = counts.select("w_start").distinct()
        .withColumn("bin", explode(sequence(lit(0), lit(9))))
      val full = dense.join(counts, Seq("w_start", "bin"), "left")
        .withColumn("n_cur", coalesce(col("n_cur"), lit(0L)))
        .join(tot, "w_start")
        .join(broadcast(refCounts), Seq("bin"), "left")
        .withColumn("n_ref", coalesce(col("n_ref"), lit(0L)))
      val p = greatest(col("n_ref").cast("double"), lit(0.5)) / lit(nRef)
      val q = greatest(col("n_cur").cast("double"), lit(0.5)) / col("n_win")
      full.select(col("w_start"), col("bin"), col("n_cur"),
        (floor((p - q) * log(p / q) * 1000000 + lit(0.5)) / 1000000.0)
          .as("psi_term"))}),

    // ST10: SLIDING windows (each event in windowLen/slide overlapping
    // windows — the semantics st3's tumbling case never exercises, and
    // the state-store shape is different: len/slide concurrent open
    // windows per key). 2-hour windows sliding by 1 hour over cent-exact
    // sums; closed-window emission as in st3. The twin doubles every
    // event into its two covering window starts.
    "st10_stream_sliding" -> ((s, dir) => {
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val ev = (rawSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
      }).withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      val agg = graft.streaming.StreamingScore.windowedEventStats(
        ev, col("ts"), col("event_type"), col("cents"),
        windowLen = "2 hours", slide = Some("1 hour"))
      val out = ScratchDirs.create("st10_out").toString
      val ckpt = ScratchDirs.create("st10_ckpt").toString
      agg.select(col("window.start").cast("long").as("w_start"),
          col("key").as("event_type"), col("n_events"),
          col("agg_sum").as("cents"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(out)}),

    // ST4: streaming SESSIONIZATION behind the driver's oracle — the
    // built-in session_window (variable-length state, unlike st3's fixed
    // tumbling windows) as a real append-mode streaming job. A session's
    // window end is last_event + gap, and only sessions whose end the
    // final watermark passed are emitted — the twin replays w3's
    // gaps-and-islands build plus exactly that cutoff. Same 6-hour gap
    // as the batch w3 gate, so stream == batch sessionization is also
    // implicitly cross-checked.
    "st4_stream_sessions" -> ((s, dir) => {
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val ev = rawSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
      }
      val sess = graft.streaming.StreamingScore.sessionize(
        ev, col("ts"), col("user_id"), gap = "6 hours",
        watermark = "0 seconds")
      val out = ScratchDirs.create("st4_out").toString
      val ckpt = ScratchDirs.create("st4_ckpt").toString
      sess.select(col("doc").cast("long").as("key"), col("n_events"),
          unix_micros(col("first_event")).as("first_us"),
          unix_micros(col("last_event")).as("last_us"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(out)}),

    // ST5: stream-STREAM interval join behind the driver's oracle — the
    // enrichment join with both sides unbounded (events × their user's
    // markers within the last hour), run as a real append-mode streaming
    // job to a file sink. The two watermarks + the two-sided time bound
    // cap the join state at O(rate · lookback); inner-join output is
    // watermark-independent, so the drained stream equals the plain
    // batch interval join — which is the twin. Completes the streaming
    // ladder: st1 stateless, st2 custom state, st3 fixed windows,
    // st4 session windows, st5 two-sided join state.
    // ST11: stream-STATIC enrichment join — the dimension-lookup shape
    // every streaming pipeline needs (the static side is re-read and
    // broadcast per micro-batch; stateless, append-legal, no watermark).
    // The twin is the plain batch join: the streaming form changes WHEN
    // the dimension is read, never the result.
    // ST14: STREAMING ingestion through the custom DSv2 connector —
    // crawl archives land as whole files, so the warc source's
    // MicroBatchStream offsets over the sorted file list and each drop
    // becomes its own micro-batch. Three staged drops (drop index
    // prefixes keep arrivals lexicographically increasing, the
    // documented contract); the drained memory sink must equal the
    // batch read of the same fixture — streaming changes WHEN archives
    // are read, never what they contain.
    "st14_stream_warc" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col => c}
      val tmp = ScratchDirs.create("st14").toString
      val recs = graft.queries.MultimodalQueries.warcFixture(s, dir)
        .collect() // bounded: one small archive per fixture doc
      // The stream runs CONCURRENTLY with each drop, so a micro-batch can
      // observe any prefix of it: files must land in SORTED name order
      // (any prefix is then lexicographically consistent — unsorted
      // writes at 30x tripped the offset's boundary-name check, a real
      // contract violation the old count-only offsets silently turned
      // into a duplicate+drop) and each lands atomically via a
      // dot-prefixed temp the lister ignores (a half-written archive
      // would otherwise parse-fail loudly).
      def drop(n: Int, p: graft.multimodal.Media.MediaRecord => Boolean): Unit =
        recs.filter(p).sortBy(_.id).foreach { r =>
          val name = f"$n%d_${r.id}%08d.warc.gz"
          val t = java.nio.file.Paths.get(tmp, s".$name")
          java.nio.file.Files.write(t, r.bytes)
          java.nio.file.Files.move(t, java.nio.file.Paths.get(tmp, name),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
      drop(0, _.id % 9 == 0)
      val q = s.readStream.format("warc").load(tmp)
        .where(c("warc_type") === "response")
        .select(c("rec_idx"), c("target_uri"), c("http_status"),
          c("content_type"), c("body_text"))
        .writeStream.format("memory").queryName("st14_sink")
        .outputMode("append").start()
      q.processAllAvailable()
      drop(1, _.id % 9 == 3)
      q.processAllAvailable()
      drop(2, r => r.id % 9 != 0 && r.id % 9 != 3)
      q.processAllAvailable()
      q.stop()
      s.table("st14_sink")
    }),

    "st11_stream_static" -> ((s, dir) => {
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      val ev = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val dim = Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val joined = ev.join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("n_name"),
          col("event_type"))
      val out = ScratchDirs.create("st11_out").toString
      val ckpt = ScratchDirs.create("st11_ckpt").toString
      joined.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(out)}),

    "st5_stream_join" -> ((s, dir) => {
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      def src() = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      def fix(df: org.apache.spark.sql.DataFrame) =
        rawSchema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _ => df.withColumn("ts", col("ts").cast("timestamp"))
        }
      val ev = fix(src()).select(col("event_id"), col("user_id"), col("ts"))
      val mk = fix(src()).where(col("event_id") % 10 === 0)
        .select(col("event_id").as("marker_id"), col("user_id"),
          col("ts").as("mts"))
      val joined = graft.streaming.StreamingScore.streamIntervalJoin(
        ev, mk, key = "user_id", leftTs = "ts", rightTs = "mts")
      val out = ScratchDirs.create("st5_out").toString
      val ckpt = ScratchDirs.create("st5_ckpt").toString
      joined.select(col("event_id"), col("user_id"), col("marker_id"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(out)}),

    // ST6: SKETCHES UNDER STREAMING STATE — the a12 HyperLogLog
    // aggregator as append-mode windowed streaming aggregation:
    // per-window register arrays live in the state store and merge
    // across micro-batches; only closed windows (end ≤ final watermark,
    // st3's rule) emit. The twin derives the registers from the same
    // PolyHash chain per (hour, type) with the same cutoff — the
    // drained stream must be byte-identical to the batch build.
    "st6_stream_hll" -> ((s, dir) => {
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val ev = (rawSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
      }).where(col("user_id").isNotNull)
        .withColumn("uh", graft.functions.PolyHash.poly_hash(
          concat(lit("u:"), col("user_id").cast("string")), 31L))
      val agg = graft.streaming.StreamingScore.windowedDistinctSketch(
        ev, col("ts"), col("event_type"), col("uh"))
      val out = ScratchDirs.create("st6_out").toString
      val ckpt = ScratchDirs.create("st6_ckpt").toString
      agg.select(col("window.start").cast("long").as("w_start"),
          col("key").as("event_type"), col("hll.nonzero").as("nonzero"),
          col("hll.sum_scaled").as("sum_scaled"),
          (floor(col("hll.estimate") * 10000 + 0.5) / 10000.0).as("est"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(out)}),

    // ST7: streaming MERGE-INTO sink — the latest-event-per-user state
    // TABLE maintained by foreachBatch upserts (MergeSink: hash-bucketed
    // state, dynamic-partition overwrite of only the touched buckets).
    // The events are staged into 4 time-ranged files and streamed with
    // maxFilesPerTrigger=1, so AvailableNow drains in 4 REAL merge
    // batches; latest-per-key is associative under the total
    // (tsn, event_id) order, so the final table must equal the twin's
    // whole-table rank — batch boundaries provably invisible.
    "st7_stream_upsert" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val tsn = ev0.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => col("ts")
        case _ => unix_micros(col("ts").cast("timestamp")) * 1000
      }
      val staged = ScratchDirs.create("st7_in").toString
      ev0.where(col("user_id").isNotNull)
        .select(col("user_id"), tsn.as("tsn"), col("event_id"),
          col("event_type"))
        .repartitionByRange(4, col("tsn"))
        .write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      val root = ScratchDirs.create("st7").toString
      graft.streaming.MergeSink.upsertStream(stream, Seq("user_id"),
          Seq("tsn", "event_id"), s"$root/state", s"$root/ckpt")
        .awaitTermination()
      s.read.parquet(s"$root/state")
        .select("user_id", "event_id", "event_type")}),

    // ST8: WATERMARK LATE-DATA DROP — the one streaming semantic none of
    // st1–st7 exercises: rows arriving after the watermark has passed
    // their window are discarded, not aggregated. Spark separates the
    // two watermark roles (SPARK-40925): batch N admits late events
    // against the watermark evicting batch N−1 — one batch of grace —
    // so a drop needs THREE batches: A = the on-time history (ts before
    // Jan 20, stragglers withheld), B = the Jan 20–25 middle (advances
    // the admission watermark to max(A) − 3d), C = the rest PLUS the
    // withheld stragglers, now two batches late. Staged as single-file
    // writes with strictly increasing modification times
    // (FileStreamSource admits oldest-first), maxFilesPerTrigger=1 →
    // exactly three data batches. C's stragglers split
    // deterministically: windows closed by max(A) − 3d are DROPPED,
    // newer stragglers still count (they merge before any eviction
    // passes their window). The twin replays that admission cutoff and
    // the final closed-window emission cutoff exactly.
    "st8_stream_late" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val tsc = ev0.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts div 1000"))
        case _ => col("ts").cast("timestamp")
      }
      val ev = ev0.select(tsc.as("ts"), col("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val split = lit("2024-01-20 00:00:00").cast("timestamp")
      val straggler = col("event_id") % 5 === 0
      val staged = ScratchDirs.create("st8_in")
      def stage(df: org.apache.spark.sql.DataFrame, name: String,
                modMs: Long): Unit = {
        val tmp = ScratchDirs.create("st8_tmp").toString
        df.repartition(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = staged.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        require(dst.toFile.setLastModified(modMs),
          s"st8: cannot set staged-file mtime on $dst")
      }
      val mid = lit("2024-01-25 00:00:00").cast("timestamp")
      stage(ev.where(col("ts") < split && !straggler), "a.parquet",
        1700000000000L)
      stage(ev.where(col("ts") >= split && col("ts") < mid), "b.parquet",
        1700000060000L)
      stage(ev.where(col("ts") >= mid || (col("ts") < split && straggler)),
        "c.parquet", 1700000120000L)
      val schema = s.read.parquet(staged.toString).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val agg = graft.streaming.StreamingScore.windowedEventStats(
        stream, col("ts"), col("event_type"), col("cents"),
        watermark = "3 days")
      val out = ScratchDirs.create("st8_out").toString
      val ckpt = ScratchDirs.create("st8_ckpt").toString
      agg.select(col("window.start").cast("long").as("w_start"),
          col("key").as("event_type"), col("n_events"),
          col("agg_sum").as("cents"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(out)}),

    // ST13: stream-stream LEFT OUTER interval join — the attribution
    // shape (purchase ⟕ preceding click within 1 h, same user) with the
    // semantic st5's inner join never exercises: a NULL-padded left row
    // may only emit once the watermark proves no match can still arrive
    // (left state evicted), and rows still in state when the stream
    // drains NEVER emit outer results. Three time-ranged staged files →
    // three real micro-batches; the eviction watermark of the LAST
    // batch is the max event time seen through batch 2 (wm delay 0,
    // millis-truncated), so the twin replays: all matches + unmatched
    // purchases strictly older than that instant.
    "st13_stream_left_outer" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val tsc = ev0.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts div 1000"))
        case _ => col("ts").cast("timestamp")
      }
      val ev = ev0.select(tsc.as("ts"), col("event_id"), col("user_id"),
          col("event_type"))
        .where(col("user_id").isNotNull)
      val s1 = lit("2024-01-11 00:00:00").cast("timestamp")
      val s2 = lit("2024-01-21 00:00:00").cast("timestamp")
      val staged = ScratchDirs.create("st13_in")
      def stage(df: org.apache.spark.sql.DataFrame, name: String,
                modMs: Long): Unit = {
        val tmp = ScratchDirs.create("st13_tmp").toString
        df.repartition(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = staged.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        require(dst.toFile.setLastModified(modMs),
          s"st13: cannot set staged-file mtime on $dst")
      }
      stage(ev.where(col("ts") < s1), "a.parquet", 1700000000000L)
      stage(ev.where(col("ts") >= s1 && col("ts") < s2), "b.parquet",
        1700000060000L)
      stage(ev.where(col("ts") >= s2), "c.parquet", 1700000120000L)
      val schema = s.read.parquet(staged.toString).schema
      def src() = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val purchases = src().where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").as("p_ts"))
      val clicks = src().where(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id"),
          col("ts").as("c_ts"))
      val joined = graft.streaming.StreamingScore.streamIntervalJoin(
        purchases, clicks, key = "user_id", leftTs = "p_ts",
        rightTs = "c_ts", joinType = "leftOuter")
      val out = ScratchDirs.create("st13_out").toString
      val ckpt = ScratchDirs.create("st13_ckpt").toString
      joined.select(col("p_id"), col("user_id"), col("c_id"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(out)}),

    // ST12: WATERMARK-BOUNDED streaming deduplication
    // (dropDuplicatesWithinWatermark, SPARK-42931) — the at-least-once
    // ingestion cleaner: exactly-once keys with state that EXPIRES at
    // the watermark instead of growing with the key universe (the
    // production-viable form; plain dropDuplicates state is unbounded).
    // Three REAL micro-batches: originals split across batches 1-2,
    // duplicates injected one batch AFTER their originals (+60 s event
    // time) so the drop exercises CROSS-BATCH state, never same-batch
    // hash-agg dedup. The 90-day delay makes every duplicate fall inside
    // the guarantee window and no row late, so the drained output is
    // exactly one row per event_id and the twin is the plain projection.
    "st12_stream_dedup_wm" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val tsc = ev0.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts div 1000"))
        case _ => col("ts").cast("timestamp")
      }
      val ev = ev0.select(tsc.as("ts"), col("event_id"), col("user_id"),
        col("event_type"))
      val mid = lit("2024-01-15 00:00:00").cast("timestamp")
      val dupA = col("event_id") % 3 === 0 // batch-1 rows re-sent in batch 2
      val dupB = col("event_id") % 4 === 0 // batch-2 rows re-sent in batch 3
      val staged = ScratchDirs.create("st12_in")
      def stage(df: org.apache.spark.sql.DataFrame, name: String,
                modMs: Long): Unit = {
        val tmp = ScratchDirs.create("st12_tmp").toString
        df.repartition(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = staged.resolve(name)
        java.nio.file.Files.move(part.toPath, dst)
        require(dst.toFile.setLastModified(modMs),
          s"st12: cannot set staged-file mtime on $dst")
      }
      def resend(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("ts", col("ts") + expr("INTERVAL 60 SECONDS"))
      stage(ev.where(col("ts") < mid), "a.parquet", 1700000000000L)
      stage(ev.where(col("ts") >= mid)
          .unionByName(resend(ev.where(col("ts") < mid && dupA))),
        "b.parquet", 1700000060000L)
      stage(resend(ev.where(col("ts") >= mid && dupB)),
        "c.parquet", 1700000120000L)
      val schema = s.read.parquet(staged.toString).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val out = ScratchDirs.create("st12_out").toString
      val ckpt = ScratchDirs.create("st12_ckpt").toString
      stream.withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s.read.parquet(out)}),

    // J7b: as-of tiebreak under REAL (key, ts) duplicates — every marker
    // row is doubled with a larger id, so the max-tiebreak rule decides
    // every match. Oracle: explicit rank twin (DuckDB's native ASOF picks
    // an arbitrary tie winner, so it can't oracle this path).
    "j7b_asof_tiebreak" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val base = ev.where(col("event_id") % 10 === 0)
        .select(col("user_id"), col("ts"), col("event_id").as("marker_id"))
      val markers = base.union(
        base.select(col("user_id"), col("ts"), (col("marker_id") + 5).as("marker_id")))
      graft.operators.Joins.asOfJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        markers, keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightTiebreak = Some("marker_id"))
        .select(col("event_id"), col("user_id"), col("marker_id"))}),

    // J7c: FORWARD as-of — each event matched to the EARLIEST marker at or
    // after it (the "next event" direction), same dedup'd marker set as j7.
    "j7c_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val markers = ev.where(col("event_id") % 10 === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("marker_id"))
      graft.operators.Joins.asOfJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        markers, keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightTiebreak = Some("marker_id"), forward = true)
        .select(col("event_id"), col("user_id"), col("marker_id"))}),

    // J8: range join (interval containment) — order dates against year
    // periods; the tiny interval side broadcasts, so the inequality join
    // is a BroadcastNestedLoop scan, not a cross shuffle.
    "j8_range_join" -> ((s, dir) => {
      val periods = s.createDataFrame(
        (1995 to 2000).map(y => (s"y$y", s"$y-01-01", s"${y + 1}-01-01")))
        .toDF("period", "start", "end")
        .select(col("period"), col("start").cast("timestamp").as("start"),
          col("end").cast("timestamp").as("end"))
      t(s, dir, "orders")
        .join(broadcast(periods),
          col("o_orderdate") >= col("start") && col("o_orderdate") < col("end"))
        .groupBy(col("period"))
        .agg(count(lit(1)).as("n_orders"),
          (floor((sum(floor(col("o_totalprice") * 100)) / 100.0) * 100 + 0.5) / 100.0).as("total"))}),

    // J8b: the same range join through the BUCKETED equi-join path — the
    // scale form for interval sides too large to broadcast (30-day
    // buckets; identical results, so it shares j8's oracle).
    "j8b_range_join_bucketed" -> ((s, dir) => {
      val periods = s.createDataFrame(
        (1995 to 2000).map(y => (s"y$y", s"$y-01-01", s"${y + 1}-01-01")))
        .toDF("period", "start", "end")
        .select(col("period"), col("start").cast("timestamp").as("start"),
          col("end").cast("timestamp").as("end"))
      graft.operators.Joins.rangeJoinBucketed(
        t(s, dir, "orders"), "o_orderdate", periods, "start", "end",
        bucketWidthMicros = 30L * 86400 * 1000000)
        .groupBy(col("period"))
        .agg(count(lit(1)).as("n_orders"),
          (floor((sum(floor(col("o_totalprice") * 100)) / 100.0) * 100 + 0.5) / 100.0).as("total"))}),

    // J12: interval-OVERLAP join (interval × interval — the temporal
    // join j8 stops short of) through the bucketed equi path with the
    // exactly-once rule: a pair is emitted only in the bucket holding
    // greatest(start_a, start_b), so no distinct pass over the pair
    // stream. Intervals derive from events deterministically (every 17th
    // event opens a 3 h window, every 23rd a 2 h one); the twin is the
    // plain inequality join, so the gate proves the bucketing loses and
    // duplicates nothing.
    "j12_interval_overlap" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val ts = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts div 1000"))
        case _ => col("ts").cast("timestamp")
      }
      val base = ev.select(col("event_id"), ts.as("t"))
      val l = base.where(col("event_id") % 17 === 0)
        .select(col("event_id").as("l_id"), col("t").as("l_start"),
          (col("t") + expr("INTERVAL 3 HOURS")).as("l_end"))
      val r = base.where(col("event_id") % 23 === 0)
        .select(col("event_id").as("r_id"), col("t").as("r_start"),
          (col("t") + expr("INTERVAL 2 HOURS")).as("r_end"))
      graft.operators.Joins.intervalOverlapJoin(
        l, "l_start", "l_end", r, "r_start", "r_end",
        bucketWidthMicros = 3600L * 1000000)
        .groupBy(col("l_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(col("r_id")).as("sum_rid"))}),

    // J6: as-of style join expressed with window over a union (latest order
    // per customer at a cutoff date) — composition of built-ins.
    "j6_latest_per_key" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_orderdate"), desc("o_orderkey"))
      t(s, dir, "orders")
        .where(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))})
  )

  val oracles: Map[String, String] = Map(
    "s1_scan_project" ->
      """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'""".stripMargin,

    "p2_range_predicate" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND l_discount > 0.05""".stripMargin,

    "p3_null_guard" ->
      """SELECT maybe AS event_type, count(*) AS cnt FROM (
        |  SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS maybe,
        |         props
        |  FROM events)
        |WHERE maybe IS NOT NULL AND props IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "p4_threshold" ->
      """SELECT c_custkey, floor((c_acctbal) * 100 + 0.5) / 100.0 AS acctbal FROM customer
        |WHERE c_acctbal <= 1000.0""".stripMargin,

    "j1_equi_join" ->
      """SELECT n_name, count(*) AS order_cnt,
        |       floor((sum((floor(o_totalprice * 100))::BIGINT) / 100.0) * 100 + 0.5) / 100.0 AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "j2_left_join_default" ->
      """SELECT l_orderkey, l_linenumber,
        |       floor((coalesce(p_retailprice, -1.0)) * 100 + 0.5) / 100.0 AS price
        |FROM (SELECT * FROM lineitem WHERE l_orderkey % 7 = 0) li
        |LEFT JOIN (SELECT p_partkey, p_retailprice FROM part WHERE p_size <= 25) p
        |ON li.l_partkey = p.p_partkey""".stripMargin,

    "j4_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,

    "j5_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 350000)""".stripMargin,

    "a1_group_count" ->
      """SELECT user_id AS doc, event_type AS word, count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,

    "a3_group_sum" ->
      """SELECT l_returnflag, l_linestatus,
        |       floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS sum_qty,
        |       floor((sum((floor(l_extendedprice * 100))::BIGINT) / 100.0) * 100 + 0.5) / 100.0 AS sum_base_price,
        |       floor((sum((floor(l_extendedprice * (1 - l_discount) * 100))::BIGINT) / 100.0) * 100 + 0.5) / 100.0 AS sum_disc_price,
        |       floor((sum((floor(l_discount * 1000000))::BIGINT) / 1000000.0 / count(*)) * 1000000 + 0.5) / 1000000.0 AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "a5_distinct" -> "SELECT DISTINCT event_type FROM events",

    "a8_count" -> "SELECT count(*) AS n FROM lineitem",

    "a11_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin,

    // the j9 twin is the PLAIN join — salting must not change one row
    "j9_salted_join" ->
      """SELECT s_nationkey, count(*) AS n,
        |       (sum(CAST(l_quantity AS BIGINT)))::BIGINT AS qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1""".stripMargin,

    // the j10 twin is the PLAIN semi join — the bloom prefilter must
    // not change one row
    "j10_bloom_semi" ->
      """SELECT c_nationkey, count(*) AS n_cust
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |                    WHERE o_totalprice > 150000)
        |GROUP BY 1""".stripMargin,

    "j11_star_join" ->
      """SELECT n_name, count(*)::BIGINT AS n_items,
        |       floor((sum((floor(l_extendedprice * (1 - l_discount) * 100))::BIGINT)
        |              / 100.0) * 100 + 0.5) / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |              AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin,

    // the a13 twin rebuilds the 4×2048 counters from the same salted
    // scramble chain and takes the same min — integer-exact end to end;
    // probe cells no event hashed into read 0 via the LEFT JOIN
    "a13_cms_counts" ->
      s"""WITH ev AS (
        |  SELECT event_type, ${hashSql("'u:' || user_id::VARCHAR")} AS hh
        |  FROM events WHERE user_id IS NOT NULL),
        |js AS (SELECT unnest(generate_series(0, 3)) AS j),
        |sal AS (SELECT event_type, j,
        |               (hh + j * 2654435769) % 1073741824 AS s0 FROM ev, js),
        |z1t AS (SELECT event_type, j,
        |               (s0 * 2654435761) % 1073741824 AS z1 FROM sal),
        |z2t AS (SELECT event_type, j, xor(z1, z1 // 32768) AS z2 FROM z1t),
        |z3t AS (SELECT event_type, j,
        |               (z2 * 1597334677) % 1073741824 AS z3 FROM z2t),
        |ii AS (SELECT event_type, j,
        |              (xor(z3, z3 // 8192) % 2048)::INT AS idx FROM z3t),
        |counters AS (SELECT event_type, j, idx, count(*)::BIGINT AS c
        |             FROM ii GROUP BY 1, 2, 3),
        |probes AS (
        |  SELECT uid, ${hashSql("'u:' || uid::VARCHAR")} AS ph
        |  FROM (SELECT unnest(generate_series(0, 9))::BIGINT AS uid)),
        |psal AS (SELECT uid, j,
        |                (ph + j * 2654435769) % 1073741824 AS s0 FROM probes, js),
        |pz1 AS (SELECT uid, j, (s0 * 2654435761) % 1073741824 AS z1 FROM psal),
        |pz2 AS (SELECT uid, j, xor(z1, z1 // 32768) AS z2 FROM pz1),
        |pz3 AS (SELECT uid, j, (z2 * 1597334677) % 1073741824 AS z3 FROM pz2),
        |pii AS (SELECT uid, j,
        |               (xor(z3, z3 // 8192) % 2048)::INT AS idx FROM pz3),
        |types AS (SELECT DISTINCT event_type FROM ev)
        |SELECT t.event_type, p.uid, min(coalesce(c.c, 0))::BIGINT AS est
        |FROM types t CROSS JOIN pii p
        |LEFT JOIN counters c
        |  ON c.event_type = t.event_type AND c.j = p.j AND c.idx = p.idx
        |GROUP BY 1, 2""".stripMargin,

    // the a15 twin is the PLAIN heavy-hitter aggregation — the sketch
    // prefilter must not change one row
    "a15_cms_heavy" ->
      """SELECT user_id AS key, count(*) AS n
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1 HAVING count(*) >= 80""".stripMargin,

    // the a14 twin rebuilds the identical histogram: bucket index from
    // the value's bit length (length(printf('%b', v)) — integer-exact
    // floor-log2), cumulative counts per group, integer ceil-div rank,
    // and the same closed-form bucket lower bound
    "a14_hdr_quantiles" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM lineitem),
        |b AS (SELECT g, v, length(printf('%b', v)) AS bits FROM v),
        |ix AS (SELECT g,
        |              CASE WHEN v < 64 THEN v
        |                   ELSE 64 + (bits - 7) * 32
        |                        + (v // (1::BIGINT << (bits - 6))) - 32
        |              END AS idx
        |       FROM b),
        |c AS (SELECT g, idx, count(*)::BIGINT AS c FROM ix GROUP BY 1, 2),
        |t AS (SELECT g, sum(c)::BIGINT AS n FROM c GROUP BY 1),
        |cum AS (SELECT g, idx,
        |               sum(c) OVER (PARTITION BY g ORDER BY idx) AS cum
        |        FROM c),
        |q AS (SELECT unnest([500, 900, 990]) AS p),
        |r AS (SELECT t.g, q.p, t.n, (q.p * t.n + 999) // 1000 AS rank
        |      FROM t CROSS JOIN q),
        |sel AS (SELECT r.g, r.p, r.n, min(cum.idx) AS idx
        |        FROM r JOIN cum ON cum.g = r.g AND cum.cum >= r.rank
        |        GROUP BY 1, 2, 3),
        |lb AS (SELECT g, p, n,
        |              CASE WHEN idx < 64 THEN idx
        |                   ELSE (32 + (idx - 64) % 32)::BIGINT
        |                        << ((idx - 64) // 32 + 1)
        |              END AS v
        |       FROM sel)
        |SELECT g AS l_returnflag, max(n) AS n,
        |       max(CASE WHEN p = 500 THEN v END) AS q_500,
        |       max(CASE WHEN p = 900 THEN v END) AS q_900,
        |       max(CASE WHEN p = 990 THEN v END) AS q_990
        |FROM lb GROUP BY 1""".stripMargin,

    // the g2 twin unrolls the same three integer PageRank rounds; every
    // division is a floor div on bigints, so the replay is bit-exact
    "g2_pagerank" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS su
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |            WHERE l_linenumber = 1),
        |edges AS (SELECT 2 * c AS src, 2 * su + 1 AS dst FROM e0
        |          UNION ALL
        |          SELECT 2 * su + 1 AS src, 2 * c AS dst FROM e0),
        |nodes AS (SELECT DISTINCT src AS node FROM edges
        |          UNION SELECT DISTINCT dst FROM edges),
        |outdeg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY 1),
        |r0 AS (SELECT node, 1000000::BIGINT AS rank FROM nodes),
        |c1 AS (SELECT e.dst AS node, sum(r.rank // d.deg)::BIGINT AS s
        |       FROM edges e JOIN r0 r ON r.node = e.src
        |                    JOIN outdeg d ON d.src = e.src
        |       GROUP BY 1),
        |r1 AS (SELECT n.node,
        |              (150000 + (850 * coalesce(c1.s, 0)) // 1000)::BIGINT AS rank
        |       FROM nodes n LEFT JOIN c1 ON c1.node = n.node),
        |c2 AS (SELECT e.dst AS node, sum(r.rank // d.deg)::BIGINT AS s
        |       FROM edges e JOIN r1 r ON r.node = e.src
        |                    JOIN outdeg d ON d.src = e.src
        |       GROUP BY 1),
        |r2 AS (SELECT n.node,
        |              (150000 + (850 * coalesce(c2.s, 0)) // 1000)::BIGINT AS rank
        |       FROM nodes n LEFT JOIN c2 ON c2.node = n.node),
        |c3 AS (SELECT e.dst AS node, sum(r.rank // d.deg)::BIGINT AS s
        |       FROM edges e JOIN r2 r ON r.node = e.src
        |                    JOIN outdeg d ON d.src = e.src
        |       GROUP BY 1)
        |SELECT n.node,
        |       (150000 + (850 * coalesce(c3.s, 0)) // 1000)::BIGINT AS rank
        |FROM nodes n LEFT JOIN c3 ON c3.node = n.node""".stripMargin,

    // the st5 twin is the batch interval join the drained stream must
    // equal row for row (inner stream-stream join output is
    // watermark-independent)
    "st5_stream_join" ->
      """SELECT e.event_id, e.user_id, m.event_id AS marker_id
        |FROM events e JOIN events m
        |  ON m.user_id = e.user_id
        | AND m.event_id % 10 = 0
        | AND m.ts >= e.ts - INTERVAL 1 HOUR
        | AND m.ts <= e.ts""".stripMargin,

    // the st11 twin is the plain dimension join — stream-static joins
    // change WHEN the dim is read (per micro-batch), never the result
    // the st14 twin is x37's row regeneration — the staged streaming
    // read must surface exactly the batch fixture's response records
    "st14_stream_warc" ->
      s"""WITH m AS (SELECT doc_id AS id, text, 1 + (doc_id // 3) % 3 AS nr
         |           FROM documents WHERE doc_id % 3 = 0),
         |r AS (SELECT id, text,
         |             unnest(generate_series(0, nr - 1)) AS r
         |      FROM m)
         |SELECT (r + 1)::INT AS rec_idx,
         |       'http://ex.test/' || id || '/' || r AS target_uri,
         |       (200 + 100 * (r % 2))::INT AS http_status,
         |       'text/plain' AS content_type,
         |       'doc ' || id || ' rec ' || r || ' :: ' || text AS body_text
         |FROM r""".stripMargin,

    "st11_stream_static" ->
      """SELECT e.event_id, e.user_id, n.n_name, e.event_type
        |FROM events e
        |JOIN customer c ON c.c_custkey = e.user_id
        |JOIN nation n ON n.n_nationkey = c.c_nationkey""".stripMargin,

    // the z1 twin replays the Morton interleave term by term — integer
    // floor-div/mod/multiply only
    "z1_zorder" ->
      s"""WITH b AS (
        |  SELECT o_orderkey, o_custkey % 65536 AS x,
        |         date_diff('day', DATE '1970-01-01', o_orderdate::DATE) % 65536 AS y
        |  FROM orders)
        |SELECT o_orderkey,
        |       (${zInterleaveSql("x", "y", 16)})::BIGINT AS zval
        |FROM b""".stripMargin,

    // the z2 twin: the plain 2-D filter — the clustered rewrite + box
    // scan must not change one row; files_pruned replays as literal TRUE
    // (the twin has no files, so the concentration claim lives entirely
    // on the Spark side and any layout regression diverges from TRUE)
    "z2_zorder_prune" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_custkey % 65536 AS x,
        |         date_diff('day', DATE '1970-01-01', o_orderdate::DATE) % 65536 AS y
        |  FROM orders)
        |SELECT o_orderkey, x, y, TRUE AS files_pruned
        |FROM b
        |WHERE x BETWEEN 100 AND 300 AND y BETWEEN 9500 AND 10000""".stripMargin,

    // the z3 twin: identical to z2's — the manifest cut must not change
    // one row, and files_pruned replays as literal TRUE
    "z3_manifest_prune" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_custkey % 65536 AS x,
        |         date_diff('day', DATE '1970-01-01', o_orderdate::DATE) % 65536 AS y
        |  FROM orders)
        |SELECT o_orderkey, x, y, TRUE AS files_pruned
        |FROM b
        |WHERE x BETWEEN 100 AND 300 AND y BETWEEN 9500 AND 10000""".stripMargin,

    // the z5 twin: partition layout must not change one row; the ≥2/3
    // directory skip replays as literal TRUE
    "z5_partition_prune" ->
      """SELECT o_orderkey,
        |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |       TRUE AS files_pruned
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    // the o1 twin: same filter + integer aggregates over the parquet
    // table — the ORC round-trip must be value-transparent
    "o1_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |       sum(CAST(l_quantity AS BIGINT))::BIGINT AS qty,
        |       sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |         ::BIGINT AS cents
        |FROM lineitem WHERE l_quantity > 25 GROUP BY 1""".stripMargin,

    // the g6 twin is the IDENTICAL standard SQL — DuckDB's native
    // recursive CTE over the same edge derivation
    "g6_recursive_reach" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT c.c_nationkey AS a, su.s_nationkey AS b
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  JOIN supplier su ON su.s_suppkey = l.l_suppkey
        |  WHERE l.l_linenumber = 1),
        |reach(n, hops) AS (
        |  SELECT CAST(0 AS BIGINT) AS n, 0 AS hops
        |  UNION ALL
        |  SELECT e.b, r.hops + 1
        |  FROM reach r JOIN e ON e.a = r.n WHERE r.hops < 3)
        |SELECT n, CAST(min(hops) AS INT) AS min_hops
        |FROM reach GROUP BY n""".stripMargin,

    // the f16 twin replays the same constructed document and paths with
    // DuckDB's JSON operators — text-level JSON vs Spark's binary
    // VARIANT must agree on every typed value
    "f16_variant" ->
      """SELECT event_id,
        |  json_extract(j, '$.u.id')::BIGINT AS uid,
        |  json_extract_string(j, '$.u.t') AS etype,
        |  json_extract(j, '$.m[1]')::BIGINT AS m1,
        |  json_extract(j, '$.p.k')::BIGINT AS k
        |FROM (SELECT event_id,
        |        '{"u":{"id":' || user_id || ',"t":"' || event_type ||
        |        '"},"m":[' || (event_id % 7) || ',' || (event_id % 11) ||
        |        '],"p":' || props || '}' AS j
        |      FROM events) t""".stripMargin,

    // the o2 twin: the JSONL round-trip must change nothing — all
    // aggregated values are integers fixed before the text crossing
    "o2_jsonl_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |       sum(CAST(l_quantity AS BIGINT))::BIGINT AS qty,
        |       sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |         ::BIGINT AS cents
        |FROM lineitem WHERE l_quantity > 25 GROUP BY 1""".stripMargin,

    // the g5 twin unrolls the three synchronous LPA rounds; each pick is
    // a windowed argmax (count DESC, label ASC) over the neighbor-label
    // counts, and absent picks keep the previous label
    "g5_label_prop" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS su
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |            WHERE l_linenumber = 1),
        |und AS (SELECT 2 * c AS a, 2 * su + 1 AS b FROM e0
        |        UNION
        |        SELECT 2 * su + 1 AS a, 2 * c AS b FROM e0),
        |nodes AS (SELECT DISTINCT a AS node FROM und),
        |l0 AS (SELECT node, node AS label FROM nodes),
        |p1 AS (SELECT a AS node, label FROM (
        |         SELECT u.a, l.label, count(*) AS c,
        |                row_number() OVER (PARTITION BY u.a
        |                  ORDER BY count(*) DESC, l.label ASC) AS rn
        |         FROM und u JOIN l0 l ON l.node = u.b
        |         GROUP BY u.a, l.label) WHERE rn = 1),
        |l1 AS (SELECT l0.node, coalesce(p1.label, l0.label) AS label
        |       FROM l0 LEFT JOIN p1 ON p1.node = l0.node),
        |p2 AS (SELECT a AS node, label FROM (
        |         SELECT u.a, l.label, count(*) AS c,
        |                row_number() OVER (PARTITION BY u.a
        |                  ORDER BY count(*) DESC, l.label ASC) AS rn
        |         FROM und u JOIN l1 l ON l.node = u.b
        |         GROUP BY u.a, l.label) WHERE rn = 1),
        |l2 AS (SELECT l1.node, coalesce(p2.label, l1.label) AS label
        |       FROM l1 LEFT JOIN p2 ON p2.node = l1.node),
        |p3 AS (SELECT a AS node, label FROM (
        |         SELECT u.a, l.label, count(*) AS c,
        |                row_number() OVER (PARTITION BY u.a
        |                  ORDER BY count(*) DESC, l.label ASC) AS rn
        |         FROM und u JOIN l2 l ON l.node = u.b
        |         GROUP BY u.a, l.label) WHERE rn = 1),
        |l3 AS (SELECT l2.node, coalesce(p3.label, l2.label) AS label
        |       FROM l2 LEFT JOIN p3 ON p3.node = l2.node)
        |SELECT node, label FROM l3""".stripMargin,

    // the g3 twin counts each triangle ONCE via the canonical a<b<c
    // 3-way self-join — per-node attribution is orientation-independent,
    // so this replays the degree-oriented wedge algorithm exactly
    "g3_triangles" ->
      """WITH ev AS (SELECT event_id, user_id FROM events
        |            WHERE user_id IS NOT NULL),
        |p AS (SELECT e1.user_id AS u1, e2.user_id AS u2
        |      FROM ev e1 JOIN ev e2 ON e2.event_id = e1.event_id + 1),
        |e AS (SELECT DISTINCT least(u1, u2) AS a, greatest(u1, u2) AS b
        |      FROM p WHERE u1 != u2),
        |t AS (SELECT e1.a AS u, e1.b AS x, e2.b AS y
        |      FROM e e1
        |      JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |n AS (SELECT u AS node FROM t
        |      UNION ALL SELECT x FROM t
        |      UNION ALL SELECT y FROM t)
        |SELECT node, count(*)::BIGINT AS n_tri FROM n GROUP BY 1""".stripMargin,

    // the st6 twin = a12's register derivation per (hour window, type)
    // plus st3's closed-window cutoff
    "st6_stream_hll" ->
      s"""WITH h0 AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type,
        |         ${hashSql("'u:' || user_id::VARCHAR")} AS hh
        |  FROM events WHERE user_id IS NOT NULL),
        |mx AS (SELECT max(ts) AS mts FROM events),
        |closed AS (SELECT ws, event_type, hh FROM h0, mx
        |           WHERE ws + INTERVAL 1 HOUR <= mts),
        |s1 AS (SELECT ws, event_type,
        |              (hh * 2654435761) % 1073741824 AS z1 FROM closed),
        |s2 AS (SELECT ws, event_type, xor(z1, z1 // 32768) AS z2 FROM s1),
        |s3 AS (SELECT ws, event_type,
        |              (z2 * 1597334677) % 1073741824 AS z3 FROM s2),
        |h AS (SELECT ws, event_type, xor(z3, z3 // 8192) AS hh FROM s3),
        |r AS (
        |  SELECT ws, event_type, hh % 4096 AS idx,
        |         CASE WHEN hh // 4096 = 0 THEN 19
        |              ELSE 18 - floor(log2((hh // 4096)::DOUBLE))::INT
        |         END AS rho
        |  FROM h),
        |regs AS (SELECT ws, event_type, idx, max(rho) AS mj
        |         FROM r GROUP BY 1, 2, 3),
        |agg AS (
        |  SELECT ws, event_type, count(*)::INT AS nonzero,
        |         (sum(1::BIGINT << (19 - mj))
        |          + (4096 - count(*)) * 524288)::BIGINT AS sum_scaled
        |  FROM regs GROUP BY 1, 2),
        |e AS (
        |  SELECT ws, event_type, nonzero, sum_scaled,
        |         0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 4096.0::DOUBLE)
        |           * 4096.0::DOUBLE * 4096.0::DOUBLE * 524288.0::DOUBLE
        |           / sum_scaled::DOUBLE AS raw
        |  FROM agg)
        |SELECT epoch(ws)::BIGINT AS w_start, event_type, nonzero, sum_scaled,
        |       floor((CASE WHEN raw <= 10240.0::DOUBLE AND nonzero < 4096
        |              THEN 4096.0::DOUBLE
        |                   * ln(4096.0::DOUBLE / (4096 - nonzero)::DOUBLE)
        |              ELSE raw END) * 10000 + 0.5) / 10000.0 AS est
        |FROM e""".stripMargin,

    // the st7 twin: whole-table latest-per-user rank at full nanosecond
    // resolution (the gate's tsn) — if any merge batch dropped or
    // resurrected a row, a winner flips and the hash breaks
    "st7_stream_upsert" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id IS NOT NULL)
        |WHERE rn = 1""".stripMargin,

    // the a12 twin derives the same HLL registers from the same PolyHash
    // stream: idx = h mod 4096, rho from the high 18 bits, register max,
    // then the identical estimator (exact-integer indicator sum; absent
    // registers contribute 2^19 each and count as zeros)
    // the a16 twin rebuilds the bottom-64 sketches from the same
    // scramble chain (rank ≤ 64 over distinct scrambled hashes per set)
    // and replays the pairwise integer algebra: 67645734912 = 63·2^30
    "a16_kmv_setops" ->
      s"""WITH h0 AS (
        |  SELECT event_type, ${hashSql("'u:' || user_id::VARCHAR")} AS hh
        |  FROM events WHERE user_id IS NOT NULL),
        |s1 AS (SELECT event_type,
        |              (hh * 2654435761) % 1073741824 AS z1 FROM h0),
        |s2 AS (SELECT event_type, xor(z1, z1 // 32768) AS z2 FROM s1),
        |s3 AS (SELECT event_type,
        |              (z2 * 1597334677) % 1073741824 AS z3 FROM s2),
        |d AS (SELECT DISTINCT event_type, xor(z3, z3 // 8192) AS sh FROM s3),
        |r AS (SELECT event_type, sh, row_number() OVER (
        |         PARTITION BY event_type ORDER BY sh) AS rn FROM d),
        |sk AS (SELECT event_type, list(sh ORDER BY sh) AS kmv
        |       FROM r WHERE rn <= 64 GROUP BY 1),
        |pairs AS (SELECT a.event_type AS set_a, b.event_type AS set_b,
        |                 a.kmv AS ka, b.kmv AS kb
        |          FROM sk a JOIN sk b ON a.event_type < b.event_type),
        |uu AS (SELECT *, list_sort(list_distinct(ka || kb))[:64] AS u
        |       FROM pairs),
        |mm AS (SELECT *,
        |          len(list_intersect(u, list_intersect(ka, kb)))::BIGINT AS m,
        |          CASE WHEN len(ka) >= 64 THEN 67645734912 // ka[64]
        |               ELSE len(ka) END::BIGINT AS est_a,
        |          CASE WHEN len(kb) >= 64 THEN 67645734912 // kb[64]
        |               ELSE len(kb) END::BIGINT AS est_b,
        |          CASE WHEN len(u) >= 64 THEN 67645734912 // u[64]
        |               ELSE len(u) END::BIGINT AS est_union
        |       FROM uu)
        |SELECT set_a, set_b, est_a, est_b, est_union, m,
        |       ((m * 1000) // len(u))::BIGINT AS jaccard_milli,
        |       ((m * est_union) // len(u))::BIGINT AS est_intersection
        |FROM mm""".stripMargin,

    "a12_hll_distinct" ->
      s"""WITH h0 AS (
        |  SELECT event_type, ${hashSql("'u:' || user_id::VARCHAR")} AS hh
        |  FROM events WHERE user_id IS NOT NULL),
        |s1 AS (SELECT event_type,
        |              (hh * 2654435761) % 1073741824 AS z1 FROM h0),
        |s2 AS (SELECT event_type, xor(z1, z1 // 32768) AS z2 FROM s1),
        |s3 AS (SELECT event_type,
        |              (z2 * 1597334677) % 1073741824 AS z3 FROM s2),
        |h AS (SELECT event_type, xor(z3, z3 // 8192) AS hh FROM s3),
        |r AS (
        |  SELECT event_type, hh % 4096 AS idx,
        |         CASE WHEN hh // 4096 = 0 THEN 19
        |              ELSE 18 - floor(log2((hh // 4096)::DOUBLE))::INT
        |         END AS rho
        |  FROM h),
        |regs AS (SELECT event_type, idx, max(rho) AS mj FROM r GROUP BY 1, 2),
        |agg AS (
        |  SELECT event_type, count(*)::INT AS nonzero,
        |         (sum(1::BIGINT << (19 - mj))
        |          + (4096 - count(*)) * 524288)::BIGINT AS sum_scaled
        |  FROM regs GROUP BY 1),
        |e AS (
        |  SELECT event_type, nonzero, sum_scaled,
        |         0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 4096.0::DOUBLE)
        |           * 4096.0::DOUBLE * 4096.0::DOUBLE * 524288.0::DOUBLE
        |           / sum_scaled::DOUBLE AS raw
        |  FROM agg)
        |SELECT event_type, nonzero, sum_scaled,
        |       floor((CASE WHEN raw <= 10240.0::DOUBLE AND nonzero < 4096
        |              THEN 4096.0::DOUBLE
        |                   * ln(4096.0::DOUBLE / (4096 - nonzero)::DOUBLE)
        |              ELSE raw END) * 10000 + 0.5) / 10000.0 AS est
        |FROM e""".stripMargin,

    "u3_intersect_except" ->
      """WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000),
        |recent AS (SELECT o_custkey FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1998-01-01')
        |SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM hi INTERSECT SELECT * FROM recent)
        |UNION ALL
        |SELECT o_custkey, 'hi_only' AS tag FROM (SELECT * FROM hi EXCEPT SELECT * FROM recent)""".stripMargin,

    "x5_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin,

    "d5_date_trunc" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        |       count(*) AS n,
        |       floor((sum((floor(o_totalprice * 100))::BIGINT) / 100.0) * 100 + 0.5) / 100.0 AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "t1_topk" ->
      """SELECT o_orderkey, floor((o_totalprice) * 100 + 0.5) / 100.0 AS total FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50""".stripMargin,

    // the t5 twin is the window form the aggregator replaces — identical
    // relation, unbounded-state plan
    "t5_grouped_topk" ->
      """SELECT g, rank::INT AS rank, o_orderkey AS id, cents AS score FROM (
        |  SELECT o_custkey % 97 AS g, o_orderkey,
        |         floor(o_totalprice * 100 + 0.5)::BIGINT AS cents,
        |         row_number() OVER (
        |           PARTITION BY o_custkey % 97
        |           ORDER BY floor(o_totalprice * 100 + 0.5) DESC, o_orderkey)
        |           AS rank
        |  FROM orders)
        |WHERE rank <= 5""".stripMargin,

    "u1_union" ->
      """SELECT o_orderpriority, bucket, count(*) AS cnt FROM (
        |  SELECT o_orderpriority, 'hi' AS bucket FROM orders WHERE o_totalprice > 300000
        |  UNION ALL
        |  SELECT o_orderpriority, 'lo' AS bucket FROM orders WHERE o_totalprice < 50000
        |) GROUP BY 1, 2""".stripMargin,

    "e1_explode" ->
      """SELECT r_regionkey, r_name, copy
        |FROM region CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS copy)""".stripMargin,

    "w1_window_cumsum" ->
      """SELECT o_custkey, o_orderkey,
        |       floor((sum(o_totalprice) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100.0 AS running_total
        |FROM orders WHERE o_custkey <= 100""".stripMargin,

    "w2_window_rank" ->
      """SELECT user_id, event_id, seq FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
        |  FROM events)
        |WHERE seq <= 5""".stripMargin,

    "g1_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS cnt
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,

    "g4_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       (GROUPING(o_orderstatus) * 2
        |         + GROUPING(o_orderpriority))::BIGINT AS gmask,
        |       count(*) AS cnt
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    // the a17 twins replay the null injection, the melt (one UNION ALL
    // branch per column), and the single grouped aggregation
    "a17_profile_num" ->
      """WITH li AS (
        |  SELECT l_quantity,
        |         CASE WHEN l_orderkey % 13 = 0 THEN NULL
        |              ELSE l_extendedprice END AS l_extendedprice,
        |         l_discount, l_tax
        |  FROM lineitem),
        |m AS (
        |  SELECT 'l_quantity' AS col_name, l_quantity::DOUBLE AS v FROM li
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice::DOUBLE FROM li
        |  UNION ALL SELECT 'l_discount', l_discount::DOUBLE FROM li
        |  UNION ALL SELECT 'l_tax', l_tax::DOUBLE FROM li)
        |SELECT col_name, count(*)::BIGINT AS n_rows,
        |       sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
        |       count(DISTINCT v)::BIGINT AS n_distinct,
        |       min(floor(v * 1000000 + 0.5))::BIGINT AS min_micro,
        |       max(floor(v * 1000000 + 0.5))::BIGINT AS max_micro,
        |       sum((floor(v * 1000000 + 0.5))::BIGINT)::BIGINT AS sum_micro
        |FROM m GROUP BY 1""".stripMargin,

    "a17b_profile_str" ->
      """WITH o AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |              ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders),
        |m AS (
        |  SELECT 'o_orderstatus' AS col_name, o_orderstatus::VARCHAR AS v FROM o
        |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM o)
        |SELECT col_name, count(*)::BIGINT AS n_rows,
        |       sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
        |       count(DISTINCT v)::BIGINT AS n_distinct,
        |       min(v) AS min_str, max(v) AS max_str,
        |       sum(len(v))::BIGINT AS sum_len
        |FROM m GROUP BY 1""".stripMargin,

    // the z4 twin is the plain projection — compaction must not touch
    // one row; the file-count claim rides the constant files_compacted
    "z4_compact" ->
      """SELECT o_orderkey, floor(o_totalprice * 100 + 0.5) / 100.0 AS total,
        |       true AS files_compacted
        |FROM orders""".stripMargin,

    // the u4 twin replays the derived new version and the full-outer
    // classification with null-safe (IS DISTINCT FROM) comparisons
    "u4_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |mk AS (SELECT max(o_orderkey) AS m FROM o),
        |nw AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM o WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + m, o_orderstatus, o_totalprice
        |  FROM o, mk WHERE o_orderkey % 31 = 0),
        |j AS (
        |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |         CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |              WHEN n.o_orderkey IS NULL THEN 'removed'
        |              WHEN (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
        |                OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
        |                THEN 'changed'
        |              ELSE 'unchanged' END AS status,
        |         CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
        |              THEN concat_ws(',',
        |                CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |                     THEN 'o_orderstatus' END,
        |                CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |                     THEN 'o_totalprice' END)
        |              ELSE '' END AS changed_cols
        |  FROM o FULL OUTER JOIN nw n ON o.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey, status, changed_cols FROM j
        |WHERE status <> 'unchanged'""".stripMargin,

    // the u6 twin replays SCD2's branches: history passthrough, kept
    // currents (unmatched or value-identical), closed-at-effective rows,
    // and opened versions for changes + fresh keys
    "u6_scd2" ->
      """WITH c AS (SELECT c_custkey AS k,
        |                  (floor(c_acctbal * 100 + 0.5))::BIGINT AS bal,
        |                  c_mktsegment AS seg FROM customer),
        |mk AS (SELECT max(k) AS m FROM c),
        |hist AS (SELECT k, bal - 100 AS bal, seg, 0::BIGINT AS vf,
        |                500000::BIGINT AS vt, false AS cur
        |         FROM c WHERE k % 19 = 0),
        |curr AS (SELECT k, bal, seg,
        |                (CASE WHEN k % 19 = 0 THEN 500000 ELSE 0 END)::BIGINT AS vf,
        |                NULL::BIGINT AS vt, true AS cur FROM c),
        |ch AS (SELECT k, bal + 250 AS bal, seg FROM c WHERE k % 7 = 0
        |       UNION ALL
        |       SELECT k, bal, seg FROM c WHERE k % 13 = 0 AND k % 7 <> 0
        |       UNION ALL
        |       SELECT k + m, bal, seg FROM c, mk WHERE k % 11 = 0),
        |j AS (SELECT curr.k AS ck, ch.k AS nk, curr.bal AS cb,
        |             curr.seg AS cs, curr.vf AS vf, ch.bal AS nb,
        |             ch.seg AS ns
        |      FROM curr FULL OUTER JOIN ch ON ch.k = curr.k),
        |out AS (
        |  SELECT k, bal, seg, vf, vt, cur FROM hist
        |  UNION ALL
        |  SELECT ck, cb, cs, vf, NULL::BIGINT, true FROM j
        |  WHERE ck IS NOT NULL AND (nk IS NULL OR
        |        (cb IS NOT DISTINCT FROM nb AND cs IS NOT DISTINCT FROM ns))
        |  UNION ALL
        |  SELECT ck, cb, cs, vf, 1000000::BIGINT, false FROM j
        |  WHERE ck IS NOT NULL AND nk IS NOT NULL AND
        |        (cb IS DISTINCT FROM nb OR cs IS DISTINCT FROM ns)
        |  UNION ALL
        |  SELECT nk, nb, ns, 1000000::BIGINT, NULL::BIGINT, true FROM j
        |  WHERE nk IS NOT NULL AND (ck IS NULL OR
        |        cb IS DISTINCT FROM nb OR cs IS DISTINCT FROM ns))
        |SELECT k AS c_custkey, bal AS bal_cents, seg,
        |       vf AS valid_from_us, vt AS valid_to_us, cur AS is_current
        |FROM out""".stripMargin,

    // the u5 twin replays MERGE's three branches: kept targets (anti
    // join), matched survivors taking source values (delete filtered
    // first, so delete wins the %1261 overlap), and unmatched inserts
    "u5_merge" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |                  o_totalprice AS tp FROM orders),
        |mk AS (SELECT max(k) AS m FROM o),
        |src AS (
        |  SELECT k, 'U' AS st, tp + 5.0 AS tp FROM o
        |  WHERE k % 13 = 0 OR k % 97 = 0
        |  UNION ALL
        |  SELECT k + m, st, tp FROM o, mk WHERE k % 31 = 0),
        |merged AS (
        |  SELECT o.k, o.st, o.tp FROM o
        |  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.k = o.k)
        |  UNION ALL
        |  SELECT s.k, s.st, s.tp FROM src s JOIN o ON o.k = s.k
        |  WHERE s.k % 97 <> 0
        |  UNION ALL
        |  SELECT s.k, s.st, s.tp FROM src s
        |  WHERE NOT EXISTS (SELECT 1 FROM o WHERE o.k = s.k))
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |       floor(tp * 100 + 0.5) / 100.0 AS total
        |FROM merged""".stripMargin,

    // the a18 twin replays the reference-bound bins, the half-count
    // smoothing, and the micro-rounded ln term
    "a18_psi_drift" ->
      """WITH e AS (
        |  SELECT value, ts < TIMESTAMP '2024-01-20' AS is_ref
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT min(value) AS lo, max(value) AS hi FROM e WHERE is_ref),
        |tot AS (
        |  SELECT sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::DOUBLE AS nr,
        |         sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)::DOUBLE AS nc
        |  FROM e),
        |c AS (
        |  SELECT least(9, greatest(0,
        |           floor((value - lo) / ((hi - lo) / 10))))::INT AS bin,
        |         sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::BIGINT AS n_ref,
        |         sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)::BIGINT AS n_cur
        |  FROM e, b GROUP BY 1)
        |SELECT bin, n_ref, n_cur,
        |  floor(((greatest(n_ref, 0.5) / nr) - (greatest(n_cur, 0.5) / nc))
        |        * ln((greatest(n_ref, 0.5) / nr) / (greatest(n_cur, 0.5) / nc))
        |        * 1000000 + 0.5) / 1000000.0 AS psi_term
        |FROM c, tot""".stripMargin,

    "u3_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'qty' AS metric,
        |       CAST(l_quantity AS BIGINT) AS value
        |FROM lineitem WHERE l_orderkey <= 1000
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'price_cents',
        |       CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |FROM lineitem WHERE l_orderkey <= 1000
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'disc_micros',
        |       CAST(floor(l_discount * 1000000 + 0.5) AS BIGINT)
        |FROM lineitem WHERE l_orderkey <= 1000""".stripMargin,

    "w4_lag_lead" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts)::BIGINT AS us
        |           FROM events)
        |SELECT user_id, event_id,
        |       coalesce(us - lag(us) OVER w, -1)::BIGINT AS prev_gap_us,
        |       coalesce(lead(us) OVER w - us, -1)::BIGINT AS next_gap_us,
        |       (ntile(4) OVER w)::BIGINT AS quartile
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)""".stripMargin,

    // the w5 twin replays the greedy-leftmost stage chain: each stage is
    // the min event time strictly after the previous stage's time
    "w5_funnel" ->
      """WITH ev AS (SELECT user_id AS k, epoch_us(ts)::BIGINT AS us,
        |                   event_type FROM events
        |            WHERE user_id IS NOT NULL),
        |s0 AS (SELECT k, min(us) AS t0 FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.k, min(us) AS t1 FROM ev e JOIN s0 ON s0.k = e.k
        |       WHERE event_type = 'click' AND us > t0 GROUP BY 1),
        |s2 AS (SELECT e.k, min(us) AS t2 FROM ev e JOIN s1 ON s1.k = e.k
        |       WHERE event_type = 'purchase' AND us > t1 GROUP BY 1)
        |SELECT s0.k AS user_id,
        |       (1 + CASE WHEN s1.k IS NULL THEN 0 ELSE 1 END
        |          + CASE WHEN s2.k IS NULL THEN 0 ELSE 1 END)::INT AS depth,
        |       s0.t0::BIGINT AS t_view, s1.t1::BIGINT AS t_click,
        |       s2.t2::BIGINT AS t_purchase
        |FROM s0 LEFT JOIN s1 ON s1.k = s0.k LEFT JOIN s2 ON s2.k = s0.k""".stripMargin,

    "j7_asof_join" ->
      """SELECT a.event_id, a.user_id, m.marker_id
        |FROM events a
        |ASOF JOIN (SELECT user_id, ts, max(event_id) AS marker_id
        |           FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2) m
        |  ON a.user_id = m.user_id AND a.ts >= m.ts""".stripMargin,

    // the j7d twin bounds the candidate window to the tolerance and
    // ranks: the nearest (then max-id) marker within 30 minutes
    "j7d_asof_tolerance" ->
      """WITH m AS (SELECT user_id, ts, max(event_id) AS marker_id
        |           FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2)
        |SELECT event_id, user_id, marker_id FROM (
        |  SELECT a.event_id, a.user_id, m.marker_id,
        |         row_number() OVER (PARTITION BY a.event_id
        |           ORDER BY m.ts DESC, m.marker_id DESC) AS rn
        |  FROM events a JOIN m ON m.user_id = a.user_id
        |    AND m.ts <= a.ts AND m.ts >= a.ts - INTERVAL 30 MINUTE)
        |WHERE rn = 1""".stripMargin,

    "w3_sessionize" ->
      """WITH e AS (
        |  SELECT user_id AS key, event_id, epoch_us(ts) AS us FROM events),
        |l AS (
        |  SELECT *, lag(us) OVER (PARTITION BY key ORDER BY us, event_id) AS pus
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN pus IS NULL OR us - pus > 21600000000 THEN 1
        |                 ELSE 0 END AS nw
        |  FROM l),
        |s AS (
        |  SELECT *, sum(nw) OVER (PARTITION BY key ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM f)
        |SELECT key, session_seq::BIGINT AS session_seq,
        |       count(*) AS n_events, min(us) AS first_us, max(us) AS last_us
        |FROM s GROUP BY 1, 2""".stripMargin,

    // the st4 twin: w3's gaps-and-islands sessions (same 6 h gap) plus
    // the append-mode emission rule — only sessions whose window end
    // (last event + gap) the final watermark (= max ts) passed
    "st4_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id AS key, event_id, epoch_us(ts) AS us FROM events),
        |l AS (
        |  SELECT *, lag(us) OVER (PARTITION BY key ORDER BY us, event_id) AS pus
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN pus IS NULL OR us - pus > 21600000000 THEN 1
        |                 ELSE 0 END AS nw
        |  FROM l),
        |s AS (
        |  SELECT *, sum(nw) OVER (PARTITION BY key ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM f),
        |mx AS (SELECT max(us) AS mus FROM e)
        |SELECT key, count(*) AS n_events,
        |       min(us) AS first_us, max(us) AS last_us
        |FROM s, mx GROUP BY key, session_seq, mus
        |HAVING max(us) + 21600000000 <= mus""".stripMargin,

    // the st9 twin: rebuild the reference bins, replay st3's
    // closed-window rule, densify every closed window to all 10 bins,
    // and apply the smoothed micro-rounded term math
    "st9_stream_psi" ->
      """WITH e AS (SELECT ts, value FROM events WHERE value IS NOT NULL),
        |b AS (SELECT min(value) AS lo, max(value) AS hi FROM e
        |      WHERE ts < TIMESTAMP '2024-01-20'),
        |r AS (SELECT least(9, greatest(0,
        |               floor((value - lo) / ((hi - lo) / 10))))::INT AS bin,
        |             count(*) AS n_ref
        |      FROM e, b WHERE ts < TIMESTAMP '2024-01-20' GROUP BY 1),
        |nr AS (SELECT sum(n_ref)::DOUBLE AS nref FROM r),
        |mx AS (SELECT max(ts) AS mts FROM e),
        |cnt AS (SELECT date_trunc('hour', ts) AS ws,
        |               least(9, greatest(0,
        |                 floor((value - lo) / ((hi - lo) / 10))))::INT AS bin,
        |               count(*) AS n_cur
        |        FROM e, b GROUP BY 1, 2),
        |closed AS (SELECT DISTINCT ws FROM cnt, mx
        |           WHERE ws + INTERVAL 1 HOUR <= mts),
        |tot AS (SELECT ws, sum(n_cur)::DOUBLE AS n_win FROM cnt GROUP BY 1),
        |dense AS (SELECT ws, g.bin FROM closed,
        |          (SELECT unnest(generate_series(0, 9))::INT AS bin) g),
        |f AS (SELECT d.ws, d.bin, coalesce(c.n_cur, 0)::BIGINT AS n_cur,
        |             coalesce(r.n_ref, 0)::BIGINT AS n_ref
        |      FROM dense d
        |      LEFT JOIN cnt c ON d.ws = c.ws AND d.bin = c.bin
        |      LEFT JOIN r ON d.bin = r.bin)
        |SELECT epoch(f.ws)::BIGINT AS w_start, f.bin, f.n_cur,
        |  floor(((greatest(f.n_ref, 0.5) / nref)
        |         - (greatest(f.n_cur, 0.5) / t.n_win))
        |        * ln((greatest(f.n_ref, 0.5) / nref)
        |             / (greatest(f.n_cur, 0.5) / t.n_win))
        |        * 1000000 + 0.5) / 1000000.0 AS psi_term
        |FROM f JOIN tot t ON f.ws = t.ws, nr""".stripMargin,

    // the st10 twin: every event belongs to the two 2-hour windows
    // starting at its hour and the hour before; closed-window rule as st3
    "st10_stream_sliding" ->
      """WITH e AS (
        |  SELECT unnest([date_trunc('hour', ts),
        |                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
        |         event_type,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |mx AS (SELECT max(ts) AS mts FROM events)
        |SELECT epoch(ws)::BIGINT AS w_start, event_type,
        |       count(*) AS n_events, (sum(c))::BIGINT AS cents
        |FROM e, mx
        |GROUP BY ws, event_type, mts
        |HAVING ws + INTERVAL 2 HOUR <= mts""".stripMargin,

    // the st3 twin: same tumbling windows + integer cent sums, keeping
    // only windows CLOSED at the final watermark (= max ts, delay 0) —
    // the append-mode emission rule is replayed, not approximated
    "st3_stream_window" ->
      """WITH e AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |mx AS (SELECT max(ts) AS mts FROM events)
        |SELECT epoch(ws)::BIGINT AS w_start, event_type,
        |       count(*) AS n_events, (sum(c))::BIGINT AS cents
        |FROM e, mx
        |GROUP BY ws, event_type, mts
        |HAVING ws + INTERVAL 1 HOUR <= mts""".stripMargin,

    // st8 twin: replay the watermark evolution — the stragglers
    // (withheld pre-Jan-20 rows) arrive two batches late, when the
    // admission watermark is wm1 = ms-truncated max(on-time history) −
    // 3d, and are dropped iff their window END ≤ wm1; everything else
    // is admitted before any eviction passes its window. Final
    // emission keeps windows whose end ≤ the final watermark (global
    // ms-truncated max − 3d). Spark tracks event-time stats in
    // milliseconds, hence the date_trunc('millisecond', ...).
    "st8_stream_late" ->
      """WITH e AS (
        |  SELECT ts, event_type, date_trunc('hour', ts) AS ws,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |         (ts < TIMESTAMP '2024-01-20' AND event_id % 5 = 0)
        |           AS straggler
        |  FROM events),
        |wm1 AS (SELECT date_trunc('millisecond', max(ts)) - INTERVAL 3 DAY AS w1
        |        FROM e WHERE ts < TIMESTAMP '2024-01-20' AND NOT straggler),
        |wmf AS (SELECT date_trunc('millisecond', max(ts)) - INTERVAL 3 DAY AS wf
        |        FROM e),
        |kept AS (SELECT e.* FROM e, wm1
        |         WHERE (NOT straggler) OR ws + INTERVAL 1 HOUR > w1)
        |SELECT epoch(ws)::BIGINT AS w_start, event_type,
        |       count(*) AS n_events, sum(c)::BIGINT AS cents
        |FROM kept, wmf
        |GROUP BY ws, event_type, wf
        |HAVING ws + INTERVAL 1 HOUR <= wf""".stripMargin,

    // the st13 twin: every match (inner results emit as they pair), plus
    // NULL-padded purchases whose match window is provably closed — p_ts
    // strictly below the final global watermark (min of the two sides'
    // millis-truncated max event times; the AvailableNow drain runs a
    // final eviction batch at that watermark, st3's closed-window rule)
    "st13_stream_left_outer" ->
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        |c AS (
        |  SELECT event_id AS c_id, user_id, ts AS c_ts FROM events
        |  WHERE event_type = 'click' AND user_id IS NOT NULL),
        |wm AS (SELECT least(
        |  (SELECT date_trunc('millisecond', max(p_ts)) FROM p),
        |  (SELECT date_trunc('millisecond', max(c_ts)) FROM c)) AS w),
        |m AS (
        |  SELECT p.p_id, p.user_id, c.c_id
        |  FROM p JOIN c ON c.user_id = p.user_id
        |    AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts),
        |um AS (
        |  SELECT p.p_id, p.user_id, NULL::BIGINT AS c_id
        |  FROM p, wm
        |  WHERE p.p_ts < w AND NOT EXISTS (
        |    SELECT 1 FROM c WHERE c.user_id = p.user_id
        |      AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts))
        |SELECT * FROM m UNION ALL SELECT * FROM um""".stripMargin,

    // the st12 twin: every duplicate falls inside the 90-day guarantee
    // window, so the drained stream must be exactly one row per event_id
    // — the plain projection (streaming changes WHEN rows are seen and
    // how much state survives, never the kept set)
    "st12_stream_dedup_wm" ->
      "SELECT event_id, user_id, event_type FROM events",

    "j7c_asof_forward" ->
      """WITH m AS (
        |  SELECT user_id, ts, max(event_id) AS marker_id
        |  FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2),
        |j AS (
        |  SELECT a.event_id, a.user_id, m.marker_id,
        |         row_number() OVER (PARTITION BY a.event_id
        |           ORDER BY m.ts ASC, m.marker_id DESC) AS rn
        |  FROM events a JOIN m ON a.user_id = m.user_id AND m.ts >= a.ts)
        |SELECT event_id, user_id, marker_id FROM j WHERE rn = 1""".stripMargin,

    "j7b_asof_tiebreak" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_id AS marker_id FROM events WHERE event_id % 10 = 0
        |  UNION ALL
        |  SELECT user_id, ts, event_id + 5 FROM events WHERE event_id % 10 = 0),
        |j AS (
        |  SELECT a.event_id, a.user_id, m.marker_id,
        |         row_number() OVER (PARTITION BY a.event_id
        |           ORDER BY m.ts DESC, m.marker_id DESC) AS rn
        |  FROM events a JOIN m ON a.user_id = m.user_id AND m.ts <= a.ts)
        |SELECT event_id, user_id, marker_id FROM j WHERE rn = 1""".stripMargin,

    "j8_range_join" -> RangeJoinOracle,
    "j8b_range_join_bucketed" -> RangeJoinOracle, // identical semantics

    // the j12 twin is the PLAIN inequality overlap join — the bucketed
    // path must lose and duplicate nothing
    "j12_interval_overlap" ->
      """WITH l AS (
        |  SELECT event_id AS l_id, ts AS l_start,
        |         ts + INTERVAL 3 HOUR AS l_end
        |  FROM events WHERE event_id % 17 = 0),
        |r AS (
        |  SELECT event_id AS r_id, ts AS r_start,
        |         ts + INTERVAL 2 HOUR AS r_end
        |  FROM events WHERE event_id % 23 = 0)
        |SELECT l_id, count(*) AS n_overlaps, sum(r_id)::BIGINT AS sum_rid
        |FROM l JOIN r ON l_start < r_end AND r_start < l_end
        |GROUP BY 1""".stripMargin,

    "j6_latest_per_key" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01')
        |WHERE rn = 1""".stripMargin
  )
}
