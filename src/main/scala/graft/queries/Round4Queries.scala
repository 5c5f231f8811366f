package graft.queries

import graft.Tables
import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-4 additions: near-duplicate CLUSTERS (connected components
  * over the pair graph, oracled with a recursive CTE), grouped top-k,
  * window-based heavy hitters, deterministic stratified sampling,
  * bigram PMI collocations, TPC-H Q12/Q14/Q18 shapes, per-group
  * z-score anomalies, interval-overlap concurrency, and hashing-trick
  * feature buckets.
  *
  * Oracle-parity rules follow the earlier packs: money math through
  * DECIMAL(18,2) then DOUBLE, identical IEEE expression trees on both
  * sides, md5 for anything an independent engine must recompute, and a
  * total ORDER BY on every row dump.
  */
object Round4Queries extends QueryModule {

  /** Exact decimal accumulation of the scale-4 revenue term; only the
    * final cast produces a double (same helper as Round3Queries).
    */
  private def dsumExact(c: Column): Column = sum(c).cast("double")

  private def revenueTerm(price: Column, discount: Column): Column =
    price.cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) - discount.cast(DecimalType(18, 2)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- near-duplicate clusters (connected components) ----
    "q_dedup_cluster" -> ((s, dir) => {
      // pairwise dedup output → keep/drop decisions: every doc reachable
      // through n-gram-Jaccard pairs gets its component's min doc id.
      // Same pair parameters as q_dedup_ngram, so the oracle reuses that
      // query's pair SQL under a recursive CTE. The pair table is the
      // pairing job's WRITTEN output (q_dedup_ngram prices that job;
      // DedupFixtures.docPairs02 stores it), so the timed work here is
      // the clustering consumer reading stored pairs — the downstream
      // serving shape (r13 verdict item 2).
      Dedup.connectedComponents(DedupFixtures.docPairs02(s, dir))
        .orderBy(col("id"))
    }),

    // ---- grouped top-k ----
    "q_group_topk" -> ((s, dir) => {
      // top-3 revenue parts per return flag: aggregate then rank inside
      // the group — two shuffles total (agg key, then window key, and
      // the window key is a prefix of the agg key so AQE can often
      // avoid the second exchange entirely)
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("revenue").desc, col("l_partkey"))
      // loadSpread (r16): the exact-decimal revenue partial agg is
      // CPU-bound on a 3-split scan (1.1 s); decimal sums commute so
      // the spread changes nothing but parallelism
      Tables.loadSpread(s, dir, "lineitem", "l_orderkey")
        .groupBy(col("l_returnflag"), col("l_partkey"))
        .agg(dsumExact(revenueTerm(col("l_extendedprice"), col("l_discount"))).as("revenue"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("l_returnflag"), col("rnk"), col("l_partkey"), col("revenue"))
        .orderBy(col("l_returnflag"), col("rnk"))
    }),

    // ---- heavy hitters (relative-frequency filter) ----
    "q_heavy_hitters" -> ((s, dir) => {
      // users contributing >1% of an event type's traffic: counts per
      // (type, user), then the type total as a window sum over the
      // aggregated frame — one shuffle, no join-back (the q_tf_idf
      // lesson applied)
      val w = Window.partitionBy(col("event_type"))
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(w))
        .filter(col("n").cast("double") / col("total").cast("double") > 0.01)
        .select(col("event_type"), col("user_id"), col("n"),
          round(col("n").cast("double") / col("total").cast("double"), 6).as("share"))
        .orderBy(col("event_type"), col("user_id"))
    }),

    // ---- deterministic stratified sampling ----
    "q_sample_stratified" -> ((s, dir) => {
      // per-stratum rates (50% of URGENT orders, 10% of the rest) via
      // md5 membership — a pure filter: no shuffle, no sort, no RNG
      // state, and any engine recomputes the exact sample. This is how
      // a 100 TB table is subsampled: the predicate pushes into the
      // scan and the job never materializes the excluded rows.
      val h = substring(md5(col("o_orderkey").cast("string").cast("binary")), 1, 2)
      Tables.load(s, dir, "orders")
        .filter(when(col("o_orderpriority") === "1-URGENT", h < "80")
          .otherwise(h < "1a"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- bigram PMI collocations ----
    "q_bigram_pmi" -> ((s, dir) => {
      // pointwise mutual information over adjacent token pairs: bigrams
      // built array-side (zip of the token array with its own tail — no
      // positional self-join), then two hash aggregations and a join of
      // the bigram counts against the (much smaller) unigram counts
      val t = col("t")
      val withT = Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      val big = withT.select(explode(zip_with(
        slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
      val uc = withT.select(explode(t).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val bcAll = big.groupBy(col("bigram")).agg(count(lit(1)).as("c_xy"))
      val nBig = bcAll.agg(sum(col("c_xy")).as("n_big"))
      val nTok = uc.agg(sum(col("c")).as("n_tok"))
      val dbl = (c: Column) => c.cast("double")
      bcAll.filter(col("c_xy") >= 20)
        .withColumn("x", split(col("bigram"), " ").getItem(0))
        .withColumn("y", split(col("bigram"), " ").getItem(1))
        .join(uc.select(col("w").as("x"), col("c").as("cx")), "x")
        .join(uc.select(col("w").as("y"), col("c").as("cy")), "y")
        .crossJoin(nBig).crossJoin(nTok)
        .select(col("bigram"), col("c_xy"),
          round(log((dbl(col("c_xy")) / dbl(col("n_big"))) /
            ((dbl(col("cx")) / dbl(col("n_tok"))) * (dbl(col("cy")) / dbl(col("n_tok"))))), 6)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
        .limit(50)
    }),

    // ---- TPC-H Q12 shape: priority counts by return flag ----
    "q_tpch_q12" -> ((s, dir) => {
      // shipdate predicate pushes to the lineitem scan before the join;
      // conditional sums replace two separate filtered aggregates
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1998-01-01").cast("date"))
        .select(col("l_orderkey"), col("l_returnflag"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_count"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- TPC-H Q14 shape: promo revenue share ----
    "q_tpch_q14" -> ((s, dir) => {
      // one month of lineitem against the broadcast part dim; both sums
      // accumulate exact decimals, the percentage division is the only
      // floating-point step
      val p = Tables.load(s, dir, "part").select(col("p_partkey"), col("p_type"))
      val term = revenueTerm(col("l_extendedprice"), col("l_discount"))
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1997-09-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-10-01").cast("date"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", term)).cast("double") /
          dsumExact(term), 6).as("promo_pct"))
    }),

    // ---- TPC-H Q18 shape: large-volume orders ----
    "q_tpch_q18" -> ((s, dir) => {
      // the HAVING aggregate runs first and survives as a tiny frame;
      // orders join it, the customer dim broadcasts — no fact×fact
      // shuffle beyond the one lineitem aggregation
      val qty = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty_d"))
        .filter(col("qty_d") > 150)
        .select(col("l_orderkey"), col("qty_d").cast("double").as("sum_qty"))
      val cust = Tables.load(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      Tables.load(s, dir, "orders")
        .join(qty, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // ---- per-group z-score anomalies ----
    "q_anomaly_zscore" -> ((s, dir) => {
      // classic outlier screen: standardize within event_type, keep
      // |z| > 3. The filter compares the ROUNDED z on both engines so
      // boundary rows cannot flip on last-ulp stddev differences.
      val w = Window.partitionBy(col("event_type"))
      val z = (col("value") - avg(col("value")).over(w)) /
        stddev_samp(col("value")).over(w)
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          round(z, 4).as("z"))
        .filter(abs(col("z")) > 3)
        .orderBy(col("event_id"))
    }),

    // ---- interval-overlap concurrency (sweep line) ----
    "q_concurrency" -> ((s, dir) => {
      // max concurrent sessions per day: sessionize (the q_sessionize
      // islands), emit +1/-1 deltas at session start/end, pre-aggregate
      // deltas per distinct second, then a partition-and-stitch prefix
      // sum: the running sum within each day is a day-partitioned
      // window (parallel across days, each task bounded by 86400
      // seconds), and the carry-in from all prior days is a running sum
      // over the per-day total frame, which broadcasts back as an
      // equi-join. The whole sweep stays in one Spark plan.
      val wS = Window.partitionBy(col("user_id")).orderBy(col("es"), col("event_id"))
      val run = wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("es"))
        .withColumn("new_s",
          when(lag(col("es"), 1).over(wS).isNull ||
            col("es") - lag(col("es"), 1).over(wS) > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("es")).as("t0"), max(col("es")).as("t1"))
      // the session frame feeds both union branches and perSec feeds
      // the carry aggregate AND the stitched join side — materialized
      // eagerly (r17) so concurrent AQE stages read stored partitions
      // instead of racing to compute a lazy cache (Dedup.materialized)
      val sessM = graft.ops.Dedup.materialized(sess)
      val deltas = sessM.select(col("t0").as("es"), lit(1L).as("d"))
        .unionByName(sessM.select((col("t1") + 1).as("es"), lit(-1L).as("d")))
      val perSec = graft.ops.Dedup.materialized(
        deltas.groupBy(col("es")).agg(sum(col("d")).as("d"))
          .withColumn("day_idx", floor(col("es") / 86400).cast("long")))
      // carry(day) = sum of every prior day's net delta (sessions still
      // open at midnight). A session spanning days contributes +1 on
      // its start day and -1 after its end day, so the stitched count
      // perSec.run + carry equals the global prefix sum exactly.
      // The carry is an in-plan running sum over the day-total frame —
      // one row per calendar day, bounded by the calendar (~3.7k rows/
      // decade) and not by the corpus, so its single-partition window
      // is a tiny task at any data scale while the event-scale frames
      // stay day-partitioned (asserted in Round4Spec). r6 verdict
      // item 5: this replaced the last bench-path driver-side collect.
      val wCarry = Window.orderBy(col("day_idx"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val carries = perSec.groupBy(col("day_idx")).agg(sum(col("d")).as("dt"))
        .withColumn("carry", coalesce(sum(col("dt")).over(wCarry), lit(0L)))
        .select(col("day_idx"), col("carry"))
      val wDay = Window.partitionBy(col("day_idx")).orderBy(col("es"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perSec.withColumn("run", sum(col("d")).over(wDay))
        .join(broadcast(carries), Seq("day_idx"))
        .groupBy(col("day_idx"))
        .agg(max(col("run") + col("carry")).as("max_concurrent"))
        .orderBy(col("day_idx"))
    }),

    // ---- TPC-H Q10 shape: returned-item revenue by customer ----
    "q_tpch_q10" -> ((s, dir) => {
      // returnflag + orderdate predicates push to the scans; customer
      // and nation broadcast; the only shuffle is lineitem⋈orders
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      val nat = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1997-04-01").cast("date"))
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(dsumExact(revenueTerm(col("l_extendedprice"), col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
        .limit(20)
    }),

    // ---- winsorization (feature clipping) ----
    "q_winsorize" -> ((s, dir) => {
      // clip a training feature at per-group exact percentiles: the
      // percentile frame is one row per group (tiny at any scale) and
      // broadcasts back onto the fact — the standard two-pass clip.
      // Exact percentile buffers each group's values, fine at bench SF
      // and required for oracle parity; at 100 TB the same plan runs
      // with approx_percentile (mergeable sketch, bounded memory) and
      // everything downstream is unchanged.
      val li = Tables.load(s, dir, "lineitem")
      val pct = li.groupBy(col("l_returnflag").as("rf"))
        .agg(expr("percentile(l_extendedprice, 0.01)").as("p01"),
          expr("percentile(l_extendedprice, 0.99)").as("p99"))
      // l_returnflag rides along so the clip is auditable per group —
      // (orderkey, linenumber) is not unique in this corpus, so the
      // group cannot be re-derived by key join downstream
      li.join(broadcast(pct), col("l_returnflag") === col("rf"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_returnflag"), col("l_extendedprice"),
          round(least(greatest(col("l_extendedprice"), col("p01")), col("p99")), 6)
            .as("clipped"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_returnflag"), col("l_extendedprice"), col("clipped"))
    }),

    // ---- 7-day rolling active users ----
    "q_rolling_wau" -> ((s, dir) => {
      // COUNT(DISTINCT) over a sliding window can't be a window frame,
      // and a day-spine range join plans as BroadcastNestedLoopJoin —
      // every (day, user) row tested against every spine day, a 3650x
      // blowup on a 10-year corpus. Scale-safe form: each distinct
      // (day, user) pair covers AT MOST 7 spine days, so explode
      // exactly those (bounded 7x expansion). The r5 variant bounded
      // the spine with a days-distinct + broadcast semi-join — a second
      // pass over the persisted pairs and an extra shuffle; the bound
      // is really just the max observed date, a one-row column-pruned
      // aggregate, so the spine tail is cut by a scalar filter instead
      // and the (day, user) distinct is consumed exactly once (no
      // persist, no join anywhere in the plan). Semantics: a spine day
      // appears iff some event day falls in its trailing week — on a
      // calendar with multi-day gaps this also reports the up-to-6
      // quiet days after a burst (deliberate: rolling actives are
      // defined for those days too), where the r5 observed-days form
      // dropped them. The oracle mirrors this definition exactly.
      val ev = Tables.load(s, dir, "events")
      val maxD = ev.agg(max(to_date(col("ts")))).head().getDate(0)
      ev.select(to_date(col("ts")).as("d"), col("user_id")).distinct()
        .select(explode(sequence(col("d"), date_add(col("d"), 6))).as("spine_d"),
          col("user_id"))
        .filter(col("spine_d") <= lit(maxD))
        .groupBy(col("spine_d"))
        .agg(countDistinct(col("user_id")).as("wau"))
        .orderBy(col("spine_d"))
    }),

    // ---- cohort analysis (first-seen week × week offset) ----
    "q_cohort" -> ((s, dir) => {
      // each user's cohort is their first active week; activity is
      // distinct (user, week); the per-user cohort frame joins back on
      // user_id — same shuffle key as the distinct, so AQE coalesces
      val uw = Tables.load(s, dir, "events")
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val fw = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
      uw.join(fw, "user_id")
        .select(col("cohort"),
          floor(datediff(col("wk"), col("cohort")) / 7).cast("long").as("week_offset"),
          col("user_id"))
        .groupBy(col("cohort"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("week_offset"))
    }),

    // ---- TPC-H Q7 shape: two-nation trade volume by year ----
    "q_tpch_q7" -> ((s, dir) => {
      // the nation pair predicate collapses both dim chains to a
      // handful of keys before they broadcast; the fact side shuffles
      // once on orderkey. Disjunctive pair filters stay ABOVE the join
      // (they reference both sides) but each leg's nation list is tiny.
      val n1 = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        .filter(col("supp_nation").isin("NATION_3", "NATION_7"))
      val n2 = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        .filter(col("cust_nation").isin("NATION_3", "NATION_7"))
      val supp = Tables.load(s, dir, "supplier")
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = Tables.load(s, dir, "customer")
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .select(col("c_custkey"), col("cust_nation"))
      val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate").cast("date")).as("l_year"),
          col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(dsumExact(revenueTerm(col("l_extendedprice"), col("l_discount"))).as("volume"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // ---- per-label embedding centroids ----
    "q_label_centroid" -> ((s, dir) => {
      // class prototypes: explode each vector with its position, average
      // per (label, dim) — one map-side-combinable aggregation whose
      // output is labels × dims rows regardless of corpus size. The
      // same shape seeds IVF cells and powers nearest-centroid
      // classification.
      Tables.load(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("col").cast("double")), 6).as("c"))
        .orderBy(col("label"), col("pos"))
    }),

    // ---- bigram language model (next-token argmax) ----
    "q_ngram_lm" -> ((s, dir) => {
      // the most likely next token per token with its conditional
      // probability P(y|x) = c_xy / c_x: bigram counts (array-tail zip,
      // as q_bigram_pmi), a window argmax per left token, and the
      // unigram count attached by a join on the left token
      val t = col("t")
      val withT = Tables.load(s, dir, "documents")
        .select(TextAnalysis.tokens(col("text")).as("t"))
      val bc = withT.select(explode(zip_with(
          slice(t, lit(1), size(t) - 1),
          slice(t, lit(2), size(t) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("c_xy"))
        .withColumn("x", split(col("bigram"), " ").getItem(0))
        .withColumn("y", split(col("bigram"), " ").getItem(1))
      val uc = withT.select(explode(t).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("c_x"))
      val w = Window.partitionBy(col("x")).orderBy(col("c_xy").desc, col("y"))
      bc.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(uc, "x")
        .select(col("x"), col("y"),
          round(col("c_xy").cast("double") / col("c_x").cast("double"), 6).as("p"))
        .orderBy(col("x"))
    }),

    // ---- chi-squared feature selection (token ↔ language) ----
    "q_chi2_features" -> ((s, dir) => {
      // which tokens are most associated with English documents: the
      // 2×2 contingency χ² from four counts, all derived from ONE
      // distinct (doc, token) aggregation plus a broadcast one-row
      // totals frame. Arithmetic runs in doubles with the identical
      // expression tree on both engines; tokens present in every doc
      // are excluded exactly (n1 < N on integers) before the division.
      val docs = Tables.load(s, dir, "documents")
      val dt = docs.select(col("lang"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("token"))
      val tok = dt.groupBy(col("token"))
        .agg(count(lit(1)).as("n1"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("e1"))
      val tot = docs.agg(count(lit(1)).as("nn"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ee"))
      val d = (c: Column) => c.cast("double")
      val diff = d(col("e1")) * d(col("nn") - col("ee") - (col("n1") - col("e1"))) -
        d(col("n1") - col("e1")) * d(col("ee") - col("e1"))
      tok.crossJoin(tot)
        .filter(col("n1") < col("nn") && col("n1") >= 5)
        .select(col("token"), col("n1"), col("e1"),
          round(d(col("nn")) * diff * diff /
            (d(col("n1")) * d(col("nn") - col("n1")) * d(col("ee")) * d(col("nn") - col("ee"))), 4)
            .as("chi2"))
        .orderBy(col("chi2").desc, col("token"))
        .limit(30)
    }),

    // ---- hashing-trick feature buckets ----
    "q_feature_hash" -> ((s, dir) => {
      // the fixed-width feature map for text models: token → one of 256
      // md5 buckets, counts per (doc, bucket). Bucket ids are md5
      // substrings, so an independent engine reproduces the exact
      // feature matrix — the same property the train/test split uses.
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .select(col("doc_id"),
          substring(md5(col("token").cast("binary")), 1, 2).as("bucket"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("doc_id"), col("bucket"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q_dedup_cluster" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t FROM documents),
         sh0 AS (
           SELECT doc_id, UNNEST(list_distinct(list_transform(
             range(1, GREATEST(LEN(t) - 3, 0) + 2),
             i -> array_to_string(t[i:i+2], ' ')))) AS shingle
           FROM toks),
         hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > 50),
         sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         co AS (
           SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT ia, ib
           FROM co JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
           WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.2),
         edges AS (
           SELECT ia AS src, ib AS dst FROM pairs
           UNION SELECT ib, ia FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         SELECT src AS id, LEAST(src, MIN(dst)) AS cluster_id
         FROM reach GROUP BY src ORDER BY id""",
    "q_group_topk" ->
      """SELECT l_returnflag, rnk, l_partkey, revenue FROM (
           SELECT l_returnflag, l_partkey, revenue,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
               ORDER BY revenue DESC, l_partkey) AS rnk
           FROM (
             SELECT l_returnflag, l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
             FROM lineitem GROUP BY 1, 2))
         WHERE rnk <= 3 ORDER BY l_returnflag, rnk""",
    "q_heavy_hitters" ->
      """SELECT event_type, user_id, n,
           ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
         FROM (
           SELECT event_type, user_id, n,
             SUM(n) OVER (PARTITION BY event_type) AS total
           FROM (SELECT event_type, user_id, COUNT(*) AS n
                 FROM events GROUP BY 1, 2))
         WHERE CAST(n AS DOUBLE) / CAST(total AS DOUBLE) > 0.01
         ORDER BY event_type, user_id""",
    "q_sample_stratified" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
         WHERE CASE WHEN o_orderpriority = '1-URGENT'
           THEN SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '80'
           ELSE SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a' END
         ORDER BY o_orderkey""",
    "q_bigram_pmi" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t FROM documents),
         big AS (
           SELECT t[i] || ' ' || t[i + 1] AS bigram
           FROM (SELECT t, UNNEST(generate_series(1, LEN(t) - 1)) AS i FROM toks)),
         bc AS (SELECT bigram, COUNT(*) AS c_xy FROM big GROUP BY 1),
         uc AS (SELECT UNNEST(t) AS w FROM toks),
         ucc AS (SELECT w, COUNT(*) AS c FROM uc GROUP BY 1),
         nb AS (SELECT SUM(c_xy) AS n_big FROM bc),
         nt AS (SELECT SUM(c) AS n_tok FROM ucc)
         SELECT bigram, c_xy,
           ROUND(LN((CAST(c_xy AS DOUBLE) / CAST(n_big AS DOUBLE)) /
             ((CAST(cx.c AS DOUBLE) / CAST(n_tok AS DOUBLE)) *
              (CAST(cy.c AS DOUBLE) / CAST(n_tok AS DOUBLE)))), 6) AS pmi
         FROM bc
         JOIN ucc cx ON string_split(bigram, ' ')[1] = cx.w
         JOIN ucc cy ON string_split(bigram, ' ')[2] = cy.w
         CROSS JOIN nb CROSS JOIN nt
         WHERE c_xy >= 20
         ORDER BY pmi DESC, bigram LIMIT 50""",
    "q_tpch_q12" ->
      """SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_tpch_q14" ->
      """SELECT ROUND(100.0 *
           CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) END) AS DOUBLE) /
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS promo_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE CAST(l_shipdate AS DATE) >= DATE '1997-09-01'
           AND CAST(l_shipdate AS DATE) < DATE '1997-10-01'""",
    "q_tpch_q18" ->
      """WITH qty AS (
           SELECT l_orderkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_d
           FROM lineitem GROUP BY 1
           HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
         SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(qty_d AS DOUBLE) AS sum_qty
         FROM orders JOIN qty ON o_orderkey = l_orderkey
           JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q_anomaly_zscore" ->
      """SELECT event_id, event_type, value, z FROM (
           SELECT event_id, event_type, value,
             ROUND((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w, 4) AS z
           FROM events WINDOW w AS (PARTITION BY event_type))
         WHERE ABS(z) > 3 ORDER BY event_id""",
    "q_concurrency" ->
      """WITH e AS (
           SELECT user_id, event_id,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
           FROM events),
         f AS (
           SELECT user_id, event_id, es,
             CASE WHEN LAG(es) OVER w IS NULL OR es - LAG(es) OVER w > 1800
               THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
         s AS (
           SELECT user_id, es,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM f),
         sess AS (
           SELECT user_id, session_id, MIN(es) AS t0, MAX(es) AS t1
           FROM s GROUP BY 1, 2),
         deltas AS (
           SELECT t0 AS es, 1 AS d FROM sess
           UNION ALL SELECT t1 + 1, -1 FROM sess),
         per_ts AS (SELECT es, SUM(d) AS d FROM deltas GROUP BY 1),
         running AS (
           SELECT es, SUM(d) OVER (ORDER BY es
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM per_ts)
         SELECT CAST(FLOOR(es / 86400) AS BIGINT) AS day_idx,
           CAST(MAX(c) AS BIGINT) AS max_concurrent
         FROM running GROUP BY 1 ORDER BY day_idx""",
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
         FROM customer JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
           JOIN nation ON c_nationkey = n_nationkey
         WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
           AND l_returnflag = 'R'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q_winsorize" ->
      """WITH pct AS (
           SELECT l_returnflag AS rf,
             quantile_cont(l_extendedprice, 0.01) AS p01,
             quantile_cont(l_extendedprice, 0.99) AS p99
           FROM lineitem GROUP BY 1)
         SELECT l_orderkey, l_linenumber, l_partkey, l_returnflag, l_extendedprice,
           ROUND(LEAST(GREATEST(l_extendedprice, p01), p99), 6) AS clipped
         FROM lineitem JOIN pct ON l_returnflag = rf
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_returnflag,
           l_extendedprice, clipped""",
    "q_rolling_wau" ->
      """WITH du AS (
           SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
         sp AS (
           SELECT d + CAST(i AS INTEGER) AS spine_d, user_id
           FROM du CROSS JOIN range(7) t(i))
         SELECT spine_d, COUNT(DISTINCT user_id) AS wau
         FROM sp
         WHERE spine_d <= (SELECT MAX(CAST(ts AS DATE)) FROM events)
         GROUP BY 1 ORDER BY 1""",
    "q_cohort" ->
      """WITH uw AS (
           SELECT DISTINCT user_id,
             CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
           FROM events),
         fw AS (SELECT user_id, MIN(wk) AS cohort FROM uw GROUP BY 1)
         SELECT cohort,
           CAST(FLOOR((wk - cohort) / 7) AS BIGINT) AS week_offset,
           COUNT(DISTINCT uw.user_id) AS n_users
         FROM uw JOIN fw USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort, week_offset""",
    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) AS l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume
         FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q_label_centroid" ->
      """SELECT label, i - 1 AS pos,
           ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS c
         FROM (SELECT label, embedding,
                 UNNEST(generate_series(1, LEN(embedding))) AS i
               FROM embeddings)
         GROUP BY 1, 2 ORDER BY label, pos""",
    "q_ngram_lm" ->
      """WITH toks AS (
           SELECT string_split_regex(LOWER(TRIM(text)), '\s+') AS t FROM documents),
         big AS (
           SELECT t[i] AS x, t[i + 1] AS y
           FROM (SELECT t, UNNEST(generate_series(1, LEN(t) - 1)) AS i FROM toks)),
         bc AS (SELECT x, y, COUNT(*) AS c_xy FROM big GROUP BY 1, 2),
         ucc AS (SELECT x, COUNT(*) AS c_x FROM
           (SELECT UNNEST(t) AS x FROM toks) GROUP BY 1),
         r AS (SELECT x, y, c_xy,
             ROW_NUMBER() OVER (PARTITION BY x ORDER BY c_xy DESC, y) AS rn
           FROM bc)
         SELECT x, y, ROUND(CAST(c_xy AS DOUBLE) / CAST(c_x AS DOUBLE), 6) AS p
         FROM r JOIN ucc USING (x) WHERE rn = 1 ORDER BY x""",
    "q_chi2_features" ->
      """WITH dt AS (
           SELECT lang, UNNEST(list_distinct(
             string_split_regex(LOWER(TRIM(text)), '\s+'))) AS token
           FROM documents),
         tok AS (
           SELECT token, COUNT(*) AS n1,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS e1
           FROM dt GROUP BY 1),
         tot AS (
           SELECT COUNT(*) AS nn,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ee
           FROM documents)
         SELECT token, n1, e1,
           ROUND(CAST(nn AS DOUBLE) *
             (CAST(e1 AS DOUBLE) * CAST(nn - ee - (n1 - e1) AS DOUBLE) -
              CAST(n1 - e1 AS DOUBLE) * CAST(ee - e1 AS DOUBLE)) *
             (CAST(e1 AS DOUBLE) * CAST(nn - ee - (n1 - e1) AS DOUBLE) -
              CAST(n1 - e1 AS DOUBLE) * CAST(ee - e1 AS DOUBLE)) /
             (CAST(n1 AS DOUBLE) * CAST(nn - n1 AS DOUBLE) *
              CAST(ee AS DOUBLE) * CAST(nn - ee AS DOUBLE)), 4) AS chi2
         FROM tok CROSS JOIN tot
         WHERE n1 < nn AND n1 >= 5
         ORDER BY chi2 DESC, token LIMIT 30""",
    "q_feature_hash" ->
      """SELECT doc_id, bucket, COUNT(*) AS n FROM (
           SELECT doc_id, SUBSTR(md5(token), 1, 2) AS bucket FROM (
             SELECT doc_id,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
             FROM documents))
         GROUP BY 1, 2 ORDER BY doc_id, bucket"""
  )
}
