package graft.queries

import graft.Tables
import graft.ops.{Dedup, Packing, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-6 additions: the remaining TPC-H shapes from the r5 brief
  * (Q4 EXISTS semi-join, Q13 left-outer count distribution, Q16
  * NOT-IN + count-distinct over a dim join), a second TPC-H batch
  * (Q15 argmax-vs-aggregate, Q17 per-group-threshold filter, Q19
  * disjunctive dim predicates, Q22 anti-join + scalar-subquery
  * threshold) — all adapted to this star schema, which has no
  * commit/receipt dates and no partsupp, by predicates that keep the
  * plan shapes identical — the ANN recall@10 audit that turns
  * approximate-search quality into a driver-hash-checked number, and
  * the bigram-LM document scorer (the statistical quality filter a
  * pre-training pipeline runs corpus-wide).
  *
  * Oracle-parity rules as the earlier packs: money/quantity sums
  * accumulate in DECIMAL(18,2) and only then cast to double, scalar
  * thresholds are computed with identical expression trees on both
  * engines, ln is rounded per-row before any cross-row aggregate,
  * and every row dump carries a total ORDER BY.
  */
object Round6Queries extends QueryModule {

  private def dsumExact(c: Column): Column = sum(c).cast("double")

  private def revenueTerm(price: Column, discount: Column): Column =
    price.cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) - discount.cast(DecimalType(18, 2)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- TPC-H Q4 shape: priority distribution of flagged orders ----
    "q_tpch_q4" -> ((s, dir) => {
      // EXISTS compiles to a left-semi join: the quarter predicate
      // pushes to the orders scan, the returnflag predicate to the
      // lineitem scan, and each fact shuffles once on the order key —
      // the semi side carries a single column across the wire.
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1997-04-01").cast("date"))
        .join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- TPC-H Q13 shape: customer order-count distribution ----
    "q_tpch_q13" -> ((s, dir) => {
      // zero-order customers must appear, so the join is left-outer —
      // but the fact aggregates FIRST (map-side combinable count per
      // custkey), and only the compact (custkey, count) frame meets the
      // customer table on the join key. No raw orders×customer shuffle;
      // at bench SF AQE turns the pre-aggregated side into a broadcast.
      val cnt = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"))
        .join(cnt, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // ---- TPC-H Q16 shape: supplier breadth per part profile ----
    "q_tpch_q16" -> ((s, dir) => {
      // lineitem stands in for partsupp as the part↔supplier bridge:
      // the filtered part dim broadcasts, the NOT-IN supplier exclusion
      // anti-joins as a broadcast (s_suppkey is non-null, so anti-join
      // and NOT IN agree), and the count-distinct runs as the standard
      // two-phase aggregation. The fact shuffles once, on the group keys.
      val p = Tables.load(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val excl = Tables.load(s, dir, "supplier")
        .filter(col("s_acctbal") < 1000)
        .select(col("s_suppkey"))
      Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // ---- TPC-H Q15 shape: top supplier by quarterly revenue ----
    "q_tpch_q15" -> ((s, dir) => {
      // argmax over an aggregate: per-supplier revenue is one hash
      // aggregation of the date-filtered fact; the max is a one-row
      // frame that broadcasts back as a cross join (the scalar-subquery
      // plan), and the supplier dim broadcasts onto the tiny result.
      // Revenue doubles are bit-identical on both engines (exact
      // decimal sum, one final cast), so the max-equality cut is safe.
      val rev = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-04-01").cast("date"))
        .groupBy(col("l_suppkey"))
        .agg(dsumExact(revenueTerm(col("l_extendedprice"), col("l_discount")))
          .as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("max_revenue"))
      val supp = Tables.load(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("max_revenue"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // ---- TPC-H Q17 shape: small-quantity revenue for a part profile ----
    "q_tpch_q17" -> ((s, dir) => {
      // the correlated avg-quantity subquery becomes aggregate + join:
      // lineitem restricted to the (broadcast) filtered parts feeds one
      // per-part threshold aggregate, which joins back onto the same
      // restricted fact. The threshold is exact-decimal / count * 0.2
      // with the identical tree on both engines, so boundary rows
      // cannot flip on summation order.
      val p = Tables.load(s, dir, "part")
        .filter(col("p_brand") === "Brand#23" && col("p_size") < 10)
        .select(col("p_partkey"))
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val thresh = li.groupBy(col("l_partkey").as("tk"))
        .agg((sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1)) * 0.2).as("q_thresh"))
      li.join(broadcast(thresh), col("l_partkey") === col("tk"))
        .filter(col("l_quantity") < col("q_thresh"))
        .agg(round(dsumExact(col("l_extendedprice").cast(DecimalType(18, 2))) / 7.0, 6)
          .as("avg_yearly"))
    }),

    // ---- TPC-H Q19 shape: disjunctive dim-predicate revenue ----
    "q_tpch_q19" -> ((s, dir) => {
      // OR-of-ANDs across both sides of a broadcast dim join: the
      // shared l_quantity bound pushes to the fact scan; the per-brand
      // conjunctions run above the join (they reference both sides).
      val p = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity") <= 11) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity") >= 20))
        .agg(dsumExact(revenueTerm(col("l_extendedprice"), col("l_discount")))
          .as("revenue"))
    }),

    // ---- TPC-H Q2 shape: cheapest supplier per part profile ----
    "q_tpch_q2" -> ((s, dir) => {
      // the correlated-min shape: per-(part, supplier) unit cost over a
      // filtered part family and region-filtered suppliers, the min
      // resolved by a window over the SAME partition key as the
      // aggregate (no re-shuffle), equality cut, dims re-attached by
      // broadcast. Unit cost is a per-row division + MIN — identical
      // IEEE steps on both engines, so the equality cut is stable.
      import org.apache.spark.sql.expressions.Window
      val eur = Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")
          .join(broadcast(Tables.load(s, dir, "region")
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val p = Tables.load(s, dir, "part")
        .filter(col("p_size") === 15 && col("p_type") === "SMALL")
        .select(col("p_partkey"))
      val cost = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice") / col("l_quantity")).as("unit"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(eur.select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("unit")).as("unit_cost"))
      val w = Window.partitionBy(col("l_partkey"))
      cost.withColumn("mc", min(col("unit_cost")).over(w))
        .filter(col("unit_cost") === col("mc"))
        .join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("l_partkey").as("p_partkey"), round(col("unit_cost"), 6).as("unit_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    }),

    // ---- TPC-H Q11 shape: above-average-value parts ----
    "q_tpch_q11" -> ((s, dir) => {
      // group aggregate + scalar-subquery threshold: per-part shipped
      // value against 1.2× the average part's value. The threshold is
      // scale-free (selects the above-average tail at any SF) and both
      // factors come from exact decimal sums, so the cut is
      // engine-stable. One fact aggregation + a broadcast 1-row frame.
      val term = revenueTerm(col("l_extendedprice"), col("l_discount"))
      // ONE lineitem scan instead of two (r17, guide §1.2): the global
      // total re-aggregates the per-part DECIMAL partials — decimal
      // addition is exact and associative, so sum-of-sums equals the
      // direct decimal sum bit-for-bit (both only cast to double at the
      // end), and np counts the non-NULL part keys, as COUNT(DISTINCT
      // l_partkey) does (a NULL-key group's value still belongs in t,
      // but the group is not a part). The scan is
      // spread (loadSpread) because the decimal partial agg is
      // CPU-bound on the single-split testdata scan (the q_corr_matrix
      // precedent; decimal sums commute, so results are identical).
      val pvd = Tables.loadSpread(s, dir, "lineitem", "l_partkey")
        .groupBy(col("l_partkey")).agg(sum(term).as("vdec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = pvd.agg(sum(col("vdec")).cast("double").as("t"),
        count(col("l_partkey")).as("np"))
      pvd.select(col("l_partkey"), col("vdec").cast("double").as("value"))
        .crossJoin(broadcast(tot))
        .filter(col("value") > lit(1.2) * (col("t") / col("np")))
        .select(col("l_partkey"), col("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // ---- TPC-H Q8 shape: national market share by year ----
    "q_tpch_q8" -> ((s, dir) => {
      // NATION_3 suppliers' share of the European customer market:
      // every dim chain (region→nation→customer, nation→supplier)
      // collapses to a broadcast before touching a fact; the only
      // fact-fact shuffle is lineitem⋈orders on the order key. The
      // share divides two exact-decimal sums per year, so the ratio is
      // engine-stable.
      val nat = Tables.load(s, dir, "nation")
      val eurN = nat
        .join(broadcast(Tables.load(s, dir, "region")
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("eur_nk"))
      val cust = Tables.load(s, dir, "customer")
        .join(broadcast(eurN), col("c_nationkey") === col("eur_nk"))
        .select(col("c_custkey"))
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1999-01-01").cast("date"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), year(col("o_orderdate").cast("date")).as("o_year"))
      val suppNat = Tables.load(s, dir, "supplier")
        .join(broadcast(nat.select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val term = revenueTerm(col("l_extendedprice"), col("l_discount"))
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg(round(
          sum(when(col("n_name") === "NATION_3", term)).cast("double") /
            dsumExact(term), 6).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // ---- TPC-H Q9 shape: net revenue by supplier nation and year ----
    "q_tpch_q9" -> ((s, dir) => {
      // profit-by-nation-year over a part-name pattern: the LIKE
      // filter prunes the part dim before it broadcasts; the amount
      // chains three DECIMAL(18,2) factors (price, discount, tax)
      // before the single cast to double.
      val p = Tables.load(s, dir, "part")
        .filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"))
      val suppNat = Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      val amount = revenueTerm(col("l_extendedprice"), col("l_discount")) *
        (lit(1).cast(DecimalType(18, 2)) - col("l_tax").cast(DecimalType(18, 2)))
      Tables.load(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("nation"), year(col("l_shipdate").cast("date")).as("o_year"))
        .agg(dsumExact(amount).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // ---- TPC-H Q20 shape: dominant suppliers of a part family ----
    "q_tpch_q20" -> ((s, dir) => {
      // the nested-IN chain: suppliers who shipped more than 12% of
      // some widget-part's total quantity. The (part, supplier)
      // aggregate runs once; the per-part total is a window over that
      // already-aggregated frame (same partition key — no extra
      // shuffle); qualifying suppliers semi-join the supplier dim.
      // The share compares two exact-decimal sums cast once to double.
      import org.apache.spark.sql.expressions.Window
      val p = Tables.load(s, dir, "part")
        .filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"))
      val q = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("sq"))
      val w = Window.partitionBy(col("l_partkey"))
      val dominant = q
        .withColumn("tot", sum(col("sq")).over(w))
        .filter(col("sq").cast("double") > lit(0.12) * col("tot").cast("double"))
        .select(col("l_suppkey"))
      Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .orderBy(col("s_suppkey"))
    }),

    // ---- TPC-H Q21 shape: sole-returning supplier on shared orders ----
    "q_tpch_q21" -> ((s, dir) => {
      // suppliers whose RETURNED lines sit on multi-supplier orders
      // where no other supplier returned anything: one semi-join (some
      // other supplier on the order) and one anti-join (no other
      // supplier returned) — both equi-joins on the order key with a
      // supplier inequality, the classic double-EXISTS shape.
      // No persist: each branch is a column-pruned scan, two of them
      // with the returnflag predicate pushed to parquet. At 100 TB a
      // cluster-wide cache of the fact projection would churn TB of
      // executor disk; stateless re-scans are cheaper.
      def liR = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey"))
      val l2 = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
      val l3 = liR.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
      val supp = Tables.load(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      liR
        .join(l2, col("l_orderkey") === col("o2") && col("s2") =!= col("l_suppkey"),
          "left_semi")
        .join(l3, col("l_orderkey") === col("o3") && col("s3") =!= col("l_suppkey"),
          "left_anti")
        // the aggregate keys on the supplier KEY; the name rides along
        // after a broadcast join, and s_suppkey stays in the output and
        // the sort so duplicate supplier names can neither merge rows
        // nor make the limit nondeterministic
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"), col("s_suppkey"))
        .limit(20)
    }),

    // ---- TPC-H Q22 shape: rich lapsed customers by nation ----
    "q_tpch_q22" -> ((s, dir) => {
      // anti-join (customers with no RECENT orders — every customer in
      // this corpus has some order, so the date scope keeps the
      // predicate non-vacuous) + a broadcast scalar threshold (average
      // positive balance, exact-decimal / count so the comparison is
      // engine-stable), rolled up per nation.
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1))).as("avg_bal"))
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1999-01-01").cast("date"))
        .select(col("o_custkey"))
      cust
        .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          dsumExact(col("c_acctbal").cast(DecimalType(18, 2))).as("totacctbal"))
        .orderBy(col("c_nationkey"))
    }),

    // ---- train→eval contamination screen (decontamination) ----
    "q_decontaminate" -> ((s, dir) => {
      // benchmark-leakage check: eval docs (every 10th) screened for
      // 5-gram overlap with the train corpus — the decontamination
      // pass run before an eval set is trusted. Shingle-hash equi-join
      // (the incremental-dedup shape); counts equal string-n-gram
      // counts because the 64-bit shingle hash is injective over
      // space-joined token n-grams.
      val docs = Tables.load(s, dir, "documents")
      Dedup.crossCorpusContamination(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", n = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- intra-document repetition (Gopher-style quality rule) ----
    "q_repetition" -> ((s, dir) => {
      // duplicate-3-gram fraction per document: pure per-row array
      // expressions over pre-hashed shingles — no shuffle at all, the
      // filter a 100 TB scan applies inline.
      Tables.load(s, dir, "documents")
        .select(Seq(col("doc_id")) ++ TextAnalysis.repetitionStats(col("text"), n = 3): _*)
        .orderBy(col("doc_id"))
    }),

    // ---- sequence packing (concat-then-chunk batching) ----
    "q_pack_sequences" -> ((s, dir) => {
      // where each document's first token lands after the corpus is
      // concatenated in doc_id order and cut into 512-token sequences.
      // Two-level distributed prefix scan — no global single-task
      // window (see ops.Packing).
      Packing.packSequences(Tables.load(s, dir, "documents"),
          "doc_id", "text", seqTokens = 512, blockSize = 1000)
        .orderBy(col("doc_id"))
    }),

    // ---- vocabulary coverage (OOV rate per document) ----
    "q_oov_rate" -> ((s, dir) => {
      // fraction of token occurrences outside the corpus's top-k
      // vocabulary (TextAnalysis.oovRate; r6 verdict item 7 made k a
      // parameter). k=16 is non-vacuous against this corpus's 31-token
      // vocabulary; the 32k tokenizer-scale plan shape is asserted in
      // Round6Spec and timed at 10× in ScaleProbe.
      TextAnalysis.oovRate(Tables.load(s, dir, "documents"),
          "doc_id", "text", vocabK = 16)
        .orderBy(col("doc_id"))
    }),

    // ---- source rebalancing (data-mixture downsampling) ----
    "q_source_balance" -> ((s, dir) => {
      // cap every source at 10 documents chosen by md5 rank — the
      // deterministic mixture-rebalancing step (downsample
      // over-represented sources before training). The rank filter
      // compiles to WindowGroupLimit: each map task keeps only its
      // per-source top rows BEFORE the shuffle, so the exchange moves
      // ~cap×sources×tasks rows, not the corpus (the q_latest_event
      // lesson). Any engine recomputes the identical sample.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- bigram-LM document scoring (statistical quality filter) ----
    "q_lm_score" -> ((s, dir) => {
      // score every document by its mean bigram log-likelihood under
      // the corpus-wide MLE bigram model — the cheap statistical
      // quality filter (gibberish and boilerplate land in the tails).
      // Plan: one (doc, bigram) explode, the q_ngram_lm count tables,
      // an equi-join on the bigram key, one aggregate back to docs —
      // all token-level shuffles, nothing quadratic. Each ln is
      // rounded to 6 dp per bigram BEFORE the mean, and the mean runs
      // as an exact DECIMAL(18,6) sum divided by the count (ADVICE r6:
      // a double AVG is summation-order-dependent, so a mean landing
      // on a 4-dp rounding boundary could flip between engines; the
      // decimal sum cannot).
      val t = col("t")
      // loadSpread (r17): withT is cached at the scan's partitioning,
      // so on the single-split testdata EVERY downstream consumer (the
      // bigram explode, the unigram explode, the scoring join) ran its
      // per-row work over a ONE-partition cache — measured as 0.38 s +
      // 0.49 s single/two-task stages on 32 cores; conditional no-op
      // on a multi-split scan
      val withT = Tables.loadSpread(s, dir, "documents", "doc_id")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val db = withT.select(col("doc_id"), explode(zip_with(
        slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
      // the count table is a model table — sublinear in the corpus
      // (distinct bigrams) and consumed three times (hot list + both
      // join paths), so one persist beats three aggregation shuffles
      val bc = db.groupBy(col("bigram")).agg(count(lit(1)).as("c_xy"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val uc = withT.select(explode(t).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("c_x"))
      // skew guard (r6 verdict item 6): the bigram key is Zipfian, so
      // an unguarded equi-join lands the hottest bigram's expansion
      // rows on one reducer. Split the probe: rows whose bigram is in
      // the top-64 hot list take a broadcast join (map-side, no
      // shuffle); the rest shuffle with the head of the distribution
      // anti-joined away. Each row takes exactly one path to the same
      // count, so the union is value-identical to the plain join.
      val hot = bc.orderBy(col("c_xy").desc, col("bigram")).limit(64)
      val dbHot = db.join(broadcast(hot), Seq("bigram"))
      val dbCold = db
        .join(broadcast(hot.select(col("bigram"))), Seq("bigram"), "left_anti")
        .join(bc, Seq("bigram"))
      dbHot.unionByName(dbCold)
        .withColumn("x", split(col("bigram"), " ").getItem(0))
        .join(uc, "x")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(
            sum(round(log(col("c_xy").cast("double") / col("c_x").cast("double")), 6)
                .cast(DecimalType(18, 6))).cast("double") /
              count(lit(1)).cast("double"), 4)
            .as("lm_score"))
        .orderBy(col("doc_id"))
    }),

    // ---- ANN recall@10 audit ----
    "q_ann_recall" -> ((s, dir) => {
      // the driver dump gates on recall ≥ 0.9, not the raw number
      // (ADVICE r6): LSH recall is corpus-independent by construction,
      // but IVF's depends on the centroid layout, so at an untested SF
      // or regenerated corpus a planted vector could in principle fall
      // outside the probed cells without the operator being broken.
      // The measured recall is 1.0 at sf0.001/0.01/0.1 — Round6Spec
      // pins that exact value where it is verified.
      annRecall(s, dir)
        .select(col("method"), (col("recall_at_10") >= 0.9).as("recall_ok"))
        .orderBy(col("method"))
    })
  )

  /** recall@10 of both approximate ANN paths against the exact
    * brute-force top-k, on a corpus with PLANTED near neighbors (the
    * planted-oracle technique, applied to vectors): 9 small
    * deterministic perturbations of the probe vector join the corpus
    * at fresh ids. They sit at cosine ≈ 0.999 while the isotropic
    * corpus tops out near 0.4 at any SF, so the exact top-10 is the
    * probe row plus the 9 planted rows — ground truth that is
    * analytic, not empirical. Both the perturbations and the LSH
    * hyperplanes are fixed-seed, so each method's recall is a stable
    * number (and LSH's is corpus-independent: its hits depend only on
    * planted-vs-hyperplane geometry).
    */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val q = PipelineQueries.queryVec(s, dir)
    val off = emb.agg(max(col("vec_id"))).head().getAs[Number](0).longValue + 1L
    val rnd = new scala.util.Random(123)
    // noise scaled to the vector's per-dim RMS: ~0.02 rad of angle,
    // far inside one hyperplane flip, whatever the embedding scale
    val qRms = math.sqrt(q.map(x => x * x).sum / q.length)
    val planted = (0 until 9).map { i =>
      (off + i, q.map(x => (x + 0.02 * qRms * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val corpus = emb.unionByName(planted)
    val truth = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, k = 10)
      .select(col("vec_id"), lit(1L).as("hit"))
    val lsh = Similarity.annTopK(corpus, "vec_id", "embedding", q, k = 10, nBits = 12)
      .select(col("vec_id"), lit("lsh").as("method"))
    val ivf = Similarity.ivfTopK(corpus, "vec_id", "embedding", q, k = 10,
        nCentroids = 16, nProbe = 4)
      .select(col("vec_id"), lit("ivf").as("method"))
    lsh.unionByName(ivf)
      .join(truth, Seq("vec_id"), "left")
      .groupBy(col("method"))
      .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") / 10.0).as("recall_at_10"))
  }

  def oracles: Map[String, String] = Map(
    "q_tpch_q4" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY 1 ORDER BY 1""",
    "q_tpch_q13" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
           SELECT c_custkey, COUNT(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         GROUP BY 1 ORDER BY custdist DESC, c_count DESC""",
    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
           AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "q_tpch_q15" ->
      """WITH rev AS (
           SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
           FROM lineitem
           WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
         ORDER BY s_suppkey""",
    "q_tpch_q17" ->
      """WITH li AS (
           SELECT l_partkey, l_quantity, l_extendedprice
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand = 'Brand#23' AND p_size < 10),
         th AS (
           SELECT l_partkey AS tk,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 0.2 AS q_thresh
           FROM li GROUP BY 1)
         SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly
         FROM li JOIN th ON l_partkey = tk
         WHERE l_quantity < q_thresh""",
    "q_tpch_q19" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_quantity >= 1 AND l_quantity <= 30
           AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity <= 11)
             OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
             OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 20))""",
    "q_tpch_q2" ->
      """WITH eur AS (
           SELECT s_suppkey, s_name, s_acctbal, n_name
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE'),
         cost AS (
           SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_size = 15 AND p_type = 'SMALL'
             AND l_suppkey IN (SELECT s_suppkey FROM eur)
           GROUP BY 1, 2)
         SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey,
           ROUND(unit_cost, 6) AS unit_cost
         FROM cost JOIN eur ON l_suppkey = s_suppkey
         WHERE unit_cost = (SELECT MIN(unit_cost) FROM cost c2
                            WHERE c2.l_partkey = cost.l_partkey)
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",
    "q_tpch_q11" ->
      """WITH pv AS (
           SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS value
           FROM lineitem GROUP BY 1),
         tot AS (
           SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS t,
             COUNT(DISTINCT l_partkey) AS np
           FROM lineitem)
         SELECT l_partkey, value FROM pv CROSS JOIN tot
         WHERE value > 1.2 * (t / np)
         ORDER BY value DESC, l_partkey""",
    "q_tpch_q8" ->
      """SELECT EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS o_year,
           ROUND(
             CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
               THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) END) AS DOUBLE) /
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
             6) AS mkt_share
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
         WHERE r_name = 'EUROPE'
           AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1999-01-01'
         GROUP BY 1 ORDER BY 1""",
    "q_tpch_q9" ->
      """SELECT n_name AS nation,
           EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
             * (1 - CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_profit
         FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%widget%'
         GROUP BY 1, 2 ORDER BY nation, o_year DESC""",
    "q_tpch_q20" ->
      """WITH q AS (
           SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_name LIKE '%widget%' GROUP BY 1, 2),
         t AS (SELECT l_partkey, SUM(sq) AS tot FROM q GROUP BY 1)
         SELECT s_suppkey, s_name FROM supplier
         WHERE s_suppkey IN (
           SELECT l_suppkey FROM q JOIN t USING (l_partkey)
           WHERE CAST(sq AS DOUBLE) > 0.12 * CAST(tot AS DOUBLE))
         ORDER BY s_suppkey""",
    "q_oov_rate" ->
      """WITH dt AS (
           SELECT doc_id, UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS w
           FROM documents),
         vc AS (SELECT w FROM (
           SELECT w, COUNT(*) AS c FROM dt GROUP BY 1
           ORDER BY c DESC, w LIMIT 16))
         SELECT doc_id, COUNT(*) AS n_tok,
           ROUND(1.0 - CAST(SUM(CASE WHEN w IN (SELECT w FROM vc) THEN 1 ELSE 0 END) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
         FROM dt GROUP BY 1 ORDER BY 1""",
    "q_tpch_q21" ->
      """SELECT s_suppkey, s_name, COUNT(*) AS numwait
         FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey
         WHERE l1.l_returnflag = 'R'
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
         GROUP BY s_suppkey, s_name
         ORDER BY numwait DESC, s_name, s_suppkey LIMIT 20""",
    "q_tpch_q22" ->
      """SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
         FROM customer
         WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                            FROM customer WHERE c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND CAST(o_orderdate AS DATE) >= DATE '1999-01-01')
         GROUP BY 1 ORDER BY 1""",
    "q_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, UNNEST(list_filter(list_distinct(list_transform(
             range(1, GREATEST(LEN(t) - 5, 0) + 2),
             i -> array_to_string(t[i:i+4], ' '))),
             x -> LENGTH(x) > 0)) AS s
           FROM toks),
         tr AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 <> 0),
         ev AS (SELECT * FROM sh WHERE doc_id % 10 = 0)
         SELECT doc_id, COUNT(*) AS n_ngrams,
           CAST(SUM(CASE WHEN s IN (SELECT s FROM tr) THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           SUM(CASE WHEN s IN (SELECT s FROM tr) THEN 1 ELSE 0 END) > 0 AS contaminated
         FROM ev GROUP BY 1 ORDER BY 1""",
    "q_repetition" ->
      """WITH sh AS (
           SELECT doc_id, list_filter(list_transform(
             range(1, GREATEST(LEN(t) - 3, 0) + 2),
             i -> array_to_string(t[i:i+2], ' ')), x -> LENGTH(x) > 0) AS s
           FROM (SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
                 FROM documents))
         SELECT doc_id,
           CAST(LEN(s) AS BIGINT) AS n_ngrams,
           CAST(LEN(list_distinct(s)) AS BIGINT) AS n_distinct,
           ROUND(CASE WHEN LEN(s) = 0 THEN 0.0
             ELSE 1.0 - CAST(LEN(list_distinct(s)) AS DOUBLE) / CAST(LEN(s) AS DOUBLE) END, 6)
             AS dup_ngram_ratio,
           (CASE WHEN LEN(s) = 0 THEN 0.0
             ELSE 1.0 - CAST(LEN(list_distinct(s)) AS DOUBLE) / CAST(LEN(s) AS DOUBLE) END) > 0.2
             AS repetitious
         FROM sh ORDER BY doc_id""",
    "q_pack_sequences" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM d)
         SELECT doc_id, n_tokens,
           CAST(FLOOR(off / 512) AS BIGINT) AS seq_id,
           CAST(off % 512 AS BIGINT) AS seq_offset
         FROM o ORDER BY doc_id""",
    "q_source_balance" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         WHERE rk <= 10 ORDER BY doc_id""",
    "q_lm_score" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents),
         db AS (
           SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram, t[i] AS x
           FROM (SELECT doc_id, t, UNNEST(generate_series(1, LEN(t) - 1)) AS i FROM toks)),
         bc AS (SELECT bigram, COUNT(*) AS c_xy FROM db GROUP BY 1),
         ucc AS (SELECT x, COUNT(*) AS c_x FROM
           (SELECT UNNEST(t) AS x FROM toks) GROUP BY 1)
         SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(CAST(ROUND(LN(CAST(c_xy AS DOUBLE) / CAST(c_x AS DOUBLE)), 6)
               AS DECIMAL(18,6))) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE), 4) AS lm_score
         FROM db JOIN bc USING (bigram) JOIN ucc USING (x)
         GROUP BY doc_id ORDER BY doc_id""",
    // the ≥0.9 gate always holds analytically: the planted neighbors
    // sit ~0.02 rad from the probe (P[≥2 of 12 hyperplane flips] < 1%),
    // IVF clusters them into the first probed cell, and the isotropic
    // corpus never enters the top-10. The exact 1.0 recall measured at
    // sf0.001/0.01/0.1 is pinned in Round6Spec, where it is verified.
    "q_ann_recall" ->
      """SELECT 'ivf' AS method, TRUE AS recall_ok
         UNION ALL
         SELECT 'lsh' AS method, TRUE AS recall_ok
         ORDER BY method"""
  )
}
