package graft.queries

import graft.Tables
import graft.ops.Preferences
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 part 2: preference-data QA — the audit pass an RLHF/DPO
  * pipeline runs over pairwise comparison labels before a reward model
  * ever sees them. Comparisons are synthesized in-plan from documents
  * with every field a deterministic function of the id, with all three
  * defect classes PLANTED so each audit's positive rows are certain:
  * every 13th comparison is re-emitted reversed (a direct conflict),
  * and every 250th id adds a 101>102>103>101 majority triple on its
  * own prompt (an intransitivity certificate no reward model can fit).
  * The oracle replays the synthesis and the integer vote arithmetic
  * end to end.
  */
object Round12bQueries extends QueryModule {

  /** (prompt, win, lose, rater, first) comparison rows: base votes
    * (winner by the id mod 3 rule, rater (id·3+1) mod 7), reversed
    * duplicates for the conflict class — cast by a PROVABLY different
    * rater, (base + 1 + id mod 5) mod 7: the shift is in 1..5, never
    * ≡ 0 (mod 7), so it cannot collide with the base rater (the naive
    * (id·5+2) mod 7 collided for every id ≡ 3 (mod 7)) — and the
    * planted 3-cycles (rater 6). `first` is the completion SHOWN
    * first: an (id·13+5) mod 10 coin — except any vote cast by rater
    * 3, the planted position-follower, which lands on the first-shown
    * REGARDLESS of row class, so their q_pref_position share is
    * exactly 1.0 by construction; conflict rows otherwise show the
    * reversed coin, cycles the written order.
    */
  private def comparisons(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val prompt = id % 50
    val a = (id * 7 + 1) % 20
    val b = (id * 11 + 3) % 20
    val aWins = id % 3 =!= 0
    val win = when(aWins, a).otherwise(b)
    val lose = when(aWins, b).otherwise(a)
    def cmpRow(p: org.apache.spark.sql.Column,
        w: org.apache.spark.sql.Column, l: org.apache.spark.sql.Column,
        r: org.apache.spark.sql.Column, fw: org.apache.spark.sql.Column) =
      struct(p.as("prompt"), w.as("win"), l.as("lose"), r.as("rater"),
        when(fw || r === 3, w).otherwise(l).as("first"))
    val emptyRow = array().cast("array<struct<prompt:bigint,win:bigint," +
      "lose:bigint,rater:bigint,first:bigint>>")
    val coin = (id * 13 + 5) % 10 < 5
    val baseRater = (id * 3 + 1) % 7
    val confRater = (baseRater + 1 + id % 5) % 7
    val base = when(a =!= b, array(cmpRow(prompt, win, lose, baseRater, coin)))
      .otherwise(emptyRow)
    val conflict = when(a =!= b && id % 13 === 0,
        array(cmpRow(prompt, lose, win, confRater, !coin)))
      .otherwise(emptyRow)
    // exact integral divide (SQL DIV) — the double-divide-then-cast
    // form diverges from the oracle's integer `//` past ~2^52
    val cyclePrompt = call_function("div", id, lit(250L)) % 50
    val cycle = when(id % 250 === 0, array(
        cmpRow(cyclePrompt, lit(101L), lit(102L), lit(6L), lit(true)),
        cmpRow(cyclePrompt, lit(102L), lit(103L), lit(6L), lit(true)),
        cmpRow(cyclePrompt, lit(103L), lit(101L), lit(6L), lit(true))))
      .otherwise(emptyRow)
    Tables.load(s, dir, "documents")
      .select(explode(concat(base, conflict, cycle)).as("c"))
      .select(col("c.prompt").as("prompt"), col("c.win").as("win"),
        col("c.lose").as("lose"), col("c.rater").as("rater"),
        col("c.first").as("first"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- direction conflicts per (prompt, unordered pair) ----
    "q_pref_conflicts" -> ((s, dir) =>
      Preferences.conflictAudit(comparisons(s, dir), "prompt", "win", "lose")
        .orderBy(col("prompt"), col("lo"), col("hi"))),

    // ---- exact win rates + Copeland strength per completion ----
    "q_pref_winrate" -> ((s, dir) =>
      Preferences.winRates(comparisons(s, dir), "prompt", "win", "lose")
        .orderBy(col("prompt"), col("completion"))),

    // ---- majority-preference 3-cycles (intransitivity) ----
    "q_pref_cycles" -> ((s, dir) =>
      Preferences.majorityCycles(comparisons(s, dir), "prompt", "win", "lose")
        .orderBy(col("prompt"))),

    // ---- per-rater majority-agreement audit (r12 verdict item 7) ----
    // the conflict class is planted on rater (id*5+2)%7, so the
    // disagreement concentrates on specific raters — the audit must
    // separate them from the consensus raters
    "q_rater_agreement" -> ((s, dir) =>
      Preferences.raterAgreement(comparisons(s, dir), "prompt", "win",
          "lose", "rater")
        .orderBy(col("rater"))),

    // ---- per-rater position-bias audit ----
    // rater 3 is the planted position-follower (their vote always
    // lands on the first-shown completion → share 1.0); everyone else
    // sits near the synthesis coin's base rate
    "q_pref_position" -> ((s, dir) =>
      Preferences.positionBias(comparisons(s, dir), "win", "lose",
          "first", "rater")
        .orderBy(col("rater"))),

    // ---- per-rater length-bias audit ----
    // completion length by the deterministic rule (c*37) mod 97 + 10;
    // lengths never tie on this synthesis (completions 0..19 and
    // 101..103 are distinct mod 97), so n_len_ties pins at 0 and the
    // share is a pure structural measurement the oracle replays
    "q_pref_lenbias" -> ((s, dir) => {
      def lenOf(c: org.apache.spark.sql.Column) = (c * 37) % 97 + 10
      Preferences.lengthBias(comparisons(s, dir), lenOf(col("win")),
          lenOf(col("lose")), col("rater"))
        .orderBy(col("rater"))
    }))

  /** The synthesis as a shared CTE: base + reversed-conflict + planted
    * cycle rows, each field the same integer function of doc_id.
    */
  private val cmpSql: String =
    """cmp AS (
         SELECT doc_id % 50 AS prompt,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 7 + 1) % 20
                ELSE (doc_id * 11 + 3) % 20 END AS win,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 11 + 3) % 20
                ELSE (doc_id * 7 + 1) % 20 END AS lose
         FROM documents WHERE (doc_id * 7 + 1) % 20 <> (doc_id * 11 + 3) % 20
         UNION ALL
         SELECT doc_id % 50,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 11 + 3) % 20
                ELSE (doc_id * 7 + 1) % 20 END,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 7 + 1) % 20
                ELSE (doc_id * 11 + 3) % 20 END
         FROM documents
         WHERE (doc_id * 7 + 1) % 20 <> (doc_id * 11 + 3) % 20
           AND doc_id % 13 = 0
         UNION ALL
         SELECT (doc_id // 250) % 50, c.w, c.l
         FROM documents
         CROSS JOIN (VALUES (101, 102), (102, 103), (103, 101)) AS c(w, l)
         WHERE doc_id % 250 = 0),
       votes AS (
         SELECT prompt, LEAST(win, lose) AS lo, GREATEST(win, lose) AS hi,
           CAST(SUM(CASE WHEN win < lose THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lo_wins,
           CAST(SUM(CASE WHEN win > lose THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hi_wins
         FROM cmp GROUP BY 1, 2, 3)"""

  /** The synthesis with the rater field, for the agreement oracle. */
  private val cmpRaterSql: String =
    """cmpr AS (
         SELECT doc_id % 50 AS prompt,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 7 + 1) % 20
                ELSE (doc_id * 11 + 3) % 20 END AS win,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 11 + 3) % 20
                ELSE (doc_id * 7 + 1) % 20 END AS lose,
           (doc_id * 3 + 1) % 7 AS rater
         FROM documents WHERE (doc_id * 7 + 1) % 20 <> (doc_id * 11 + 3) % 20
         UNION ALL
         SELECT doc_id % 50,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 11 + 3) % 20
                ELSE (doc_id * 7 + 1) % 20 END,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 7 + 1) % 20
                ELSE (doc_id * 11 + 3) % 20 END,
           ((doc_id * 3 + 1) % 7 + 1 + doc_id % 5) % 7
         FROM documents
         WHERE (doc_id * 7 + 1) % 20 <> (doc_id * 11 + 3) % 20
           AND doc_id % 13 = 0
         UNION ALL
         SELECT (doc_id // 250) % 50, c.w, c.l, 6
         FROM documents
         CROSS JOIN (VALUES (101, 102), (102, 103), (103, 101)) AS c(w, l)
         WHERE doc_id % 250 = 0),
       vr AS (
         SELECT prompt, LEAST(win, lose) AS lo, GREATEST(win, lose) AS hi,
           win < lose AS lo_won, rater
         FROM cmpr),
       pr AS (
         SELECT prompt, lo, hi,
           SUM(CASE WHEN lo_won THEN 1 ELSE 0 END) AS n_lo,
           SUM(CASE WHEN lo_won THEN 0 ELSE 1 END) AS n_hi
         FROM vr GROUP BY 1, 2, 3)"""

  def oracles: Map[String, String] = Map(

    "q_pref_conflicts" ->
      s"""WITH $cmpSql
         SELECT prompt, lo, hi, n_lo_wins, n_hi_wins,
           (n_lo_wins > 0 AND n_hi_wins > 0) AS conflicted,
           ABS(n_lo_wins - n_hi_wins) AS margin
         FROM votes ORDER BY prompt, lo, hi""",

    "q_pref_winrate" ->
      s"""WITH $cmpSql,
         sides AS (
           SELECT prompt, win AS completion, 1 AS w FROM cmp
           UNION ALL
           SELECT prompt, lose, 0 FROM cmp)
         SELECT prompt, completion,
           CAST(SUM(w) AS BIGINT) AS wins,
           CAST(SUM(1 - w) AS BIGINT) AS losses,
           CAST(COUNT(*) AS BIGINT) AS games,
           ROUND(CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS win_rate,
           CAST(SUM(w) - SUM(1 - w) AS BIGINT) AS copeland
         FROM sides GROUP BY 1, 2 ORDER BY prompt, completion""",

    "q_pref_cycles" ->
      s"""WITH $cmpSql,
         edges AS (
           SELECT prompt,
             CASE WHEN n_lo_wins > n_hi_wins THEN lo ELSE hi END AS src,
             CASE WHEN n_lo_wins > n_hi_wins THEN hi ELSE lo END AS dst
           FROM votes WHERE n_lo_wins <> n_hi_wins)
         SELECT e1.prompt, CAST(COUNT(*) AS BIGINT) AS n_cycles
         FROM edges e1
         JOIN edges e2 ON e1.prompt = e2.prompt AND e1.dst = e2.src
         JOIN edges e3 ON e2.prompt = e3.prompt AND e2.dst = e3.src
           AND e3.dst = e1.src
         WHERE e1.src < e2.src AND e1.src < e3.src
         GROUP BY e1.prompt ORDER BY e1.prompt""",

    "q_rater_agreement" ->
      s"""WITH $cmpRaterSql
         SELECT vr.rater,
           CAST(COUNT(*) AS BIGINT) AS n_votes,
           CAST(SUM(CASE WHEN pr.n_lo <> pr.n_hi THEN 1 ELSE 0 END)
             AS BIGINT) AS n_decided,
           CAST(SUM(CASE WHEN pr.n_lo <> pr.n_hi
               AND vr.lo_won = (pr.n_lo > pr.n_hi) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_majority,
           ROUND(CAST(SUM(CASE WHEN pr.n_lo <> pr.n_hi
               AND vr.lo_won = (pr.n_lo > pr.n_hi) THEN 1 ELSE 0 END)
               AS DOUBLE) /
             NULLIF(CAST(SUM(CASE WHEN pr.n_lo <> pr.n_hi THEN 1 ELSE 0 END)
               AS DOUBLE), 0), 6) AS agreement
         FROM vr JOIN pr ON vr.prompt = pr.prompt AND vr.lo = pr.lo
           AND vr.hi = pr.hi
         GROUP BY vr.rater ORDER BY rater""",

    "q_pref_position" ->
      // win == first reduces to the synthesis' (fw OR rater = 3) flag,
      // replayed per row class (base: coin; conflict: reversed coin,
      // rater (base+1+id%5)%7; cycles: written order, rater 6)
      """WITH pos AS (
           SELECT (doc_id * 3 + 1) % 7 AS rater,
             CASE WHEN (doc_id * 13 + 5) % 10 < 5
                 OR (doc_id * 3 + 1) % 7 = 3 THEN 1 ELSE 0 END AS fw
           FROM documents
           WHERE (doc_id * 7 + 1) % 20 <> (doc_id * 11 + 3) % 20
           UNION ALL
           SELECT ((doc_id * 3 + 1) % 7 + 1 + doc_id % 5) % 7,
             CASE WHEN (doc_id * 13 + 5) % 10 >= 5
                 OR ((doc_id * 3 + 1) % 7 + 1 + doc_id % 5) % 7 = 3
               THEN 1 ELSE 0 END
           FROM documents
           WHERE (doc_id * 7 + 1) % 20 <> (doc_id * 11 + 3) % 20
             AND doc_id % 13 = 0
           UNION ALL
           SELECT 6, 1 FROM documents
           CROSS JOIN (VALUES (1), (2), (3)) AS c(k)
           WHERE doc_id % 250 = 0)
         SELECT rater, CAST(COUNT(*) AS BIGINT) AS n_votes,
           CAST(SUM(fw) AS BIGINT) AS n_first_won,
           ROUND(CAST(SUM(fw) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS first_win_share
         FROM pos GROUP BY rater ORDER BY rater""",

    "q_pref_lenbias" ->
      s"""WITH $cmpRaterSql
         SELECT rater, CAST(COUNT(*) AS BIGINT) AS n_votes,
           CAST(SUM(CASE WHEN (win * 37) % 97 + 10 > (lose * 37) % 97 + 10
             THEN 1 ELSE 0 END) AS BIGINT) AS n_longer_won,
           CAST(SUM(CASE WHEN (win * 37) % 97 + 10 = (lose * 37) % 97 + 10
             THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ties,
           ROUND(CAST(SUM(CASE WHEN (win * 37) % 97 + 10 >
                 (lose * 37) % 97 + 10 THEN 1 ELSE 0 END) AS DOUBLE) /
             NULLIF(CAST(COUNT(*) - SUM(CASE WHEN (win * 37) % 97 + 10 =
                 (lose * 37) % 97 + 10 THEN 1 ELSE 0 END) AS DOUBLE), 0),
             6) AS longer_win_share
         FROM cmpr GROUP BY rater ORDER BY rater""")
}
