package graft

import org.apache.spark.sql.catalyst.expressions.codegen.{ByteCodeStats, CodegenFallback}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.scalatest.funsuite.AnyFunSuite

/** Codegen-fallback audit (r12 verdict item 3): round 12 found a
  * SILENT whole-stage-codegen loss by hand — Janino's 64 KB method
  * limit made q_media_headers' entire stage fall back to interpreted
  * eval with nothing but a WARN log (0.91 s vs 0.28 s fixed). This
  * spec institutionalizes that find: every `SparkEntry.queries` plan
  * is walked, every WholeStageCodegen subtree is COMPILED (the same
  * `CodeGenerator.compile` the executor runs), and the audit fails if
  *
  *   1. any compiled stage's max method bytecode size exceeds
  *      `spark.sql.codegen.hugeMethodLimit` — the exact predicate
  *      `WholeStageCodegenExec.doExecute` uses to silently fall back
  *      at runtime, or
  *   2. any stage fails to compile at all — `codegenStringSeq`
  *      reports that as `ByteCodeStats.UNAVAILABLE`, and at runtime the
  *      stage silently runs interpreted (a generated-Java reference to
  *      a class that moved between Spark versions did exactly that), or
  *   3. any plan contains a `CodegenFallback` expression class outside
  *      the documented allowlist — an interpreted per-row eval hiding
  *      inside an otherwise codegen'd stage.
  *
  * AQE is disabled for plan construction so `executedPlan` carries its
  * `WholeStageCodegen` nodes without executing the query (under AQE
  * the collapse happens per-stage at runtime); the codegen itself is
  * identical either way — AQE re-plans exchanges, not expression
  * inlining.
  */
class CodegenAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Documented interpreted-eval expression classes allowed to appear.
    * Everything here is a deliberate, adjudicated choice — the audit's
    * job is to fail when a NEW fallback class creeps into a plan (the
    * way a UDF or from_json would), not to relitigate these:
    *
    * - GetJsonObject (`get_json_object`): the events.props item-key
    *   extraction. Interpreted per-row but hot only in fixture BUILDS
    *   (untimed warmup); in timed plans it sits on the events scan
    *   where the scan dominates.
    * - The higher-order-function machinery (transform/filter/
    *   aggregate/zip_with/array_sort/forall + their lambda nodes):
    *   Spark has NO codegen for lambda HOFs. Each hot-path use was
    *   weighed against explode-based alternatives in earlier rounds
    *   (SNIPPETS/SURVEY); the survivors are array-bounded per-row
    *   computations where an explode would shuffle more than the
    *   interpreted eval costs.
    * - TypedImperativeAggregate / interpreted aggregates (collect_list,
    *   collect_set, percentile, percentile_disc, approx_percentile,
    *   hll++, pivot-first) and ReplicateRows (INTERSECT/EXCEPT ALL):
    *   Spark's own buffer-object implementations — there is no
    *   codegen'd variant to prefer.
    */
  private val allowlist: Set[String] = {
    val e = "org.apache.spark.sql.catalyst.expressions."
    Set(
      e + "GetJsonObject",
      // HOF machinery
      e + "ArrayTransform", e + "ArrayFilter", e + "ArrayAggregate",
      e + "ZipWith", e + "ArraySort", e + "ArrayForAll",
      e + "ArrayExists", e + "LambdaFunction", e + "NamedLambdaVariable",
      // set-op row replication
      e + "ReplicateRows",
      // interpreted (buffer-object) aggregates
      e + "aggregate.CollectList", e + "aggregate.CollectSet",
      e + "aggregate.Percentile", e + "aggregate.PercentileDisc",
      e + "aggregate.ApproximatePercentile",
      e + "aggregate.HyperLogLogPlusPlus", e + "aggregate.PivotFirst")
  }

  test("every query plan: no over-limit codegen stage, no undocumented CodegenFallback") {
    val limit = spark.conf.get("spark.sql.codegen.hugeMethodLimit", "65535").toInt
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val overLimit = Seq.newBuilder[String]
      val uncompiled = Seq.newBuilder[String]
      val undocumented = Seq.newBuilder[String]
      var stages = 0
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan
        codegenStringSeq(plan).foreach { case (subtree, _, stats) =>
          stages += 1
          if (stats == ByteCodeStats.UNAVAILABLE)
            uncompiled += s"$name: ${subtree.linesIterator.next().take(160)}"
          else if (stats.maxMethodCodeSize > limit)
            overLimit += s"$name: maxMethodCodeSize=${stats.maxMethodCodeSize}"
        }
        val fallbacks = plan.collectWithSubqueries { case p =>
          p.expressions.flatMap(_.collect {
            case e: CodegenFallback => e.getClass.getName
          })
        }.flatten.toSet -- allowlist
        if (fallbacks.nonEmpty)
          undocumented += s"$name: ${fallbacks.mkString(", ")}"
        spark.catalog.clearCache() // operators persist parameterization frames
      }
      assert(stages > 300, s"audit walked only $stages codegen stages — " +
        "plans lost their WholeStageCodegen nodes?")
      assert(overLimit.result().isEmpty,
        s"silent codegen fallback (> $limit bytecode bytes/method):\n" +
          overLimit.result().mkString("\n"))
      assert(uncompiled.result().isEmpty,
        "codegen stages that fail to compile (run interpreted):\n" +
          uncompiled.result().mkString("\n"))
      assert(undocumented.result().isEmpty,
        "undocumented CodegenFallback expressions:\n" +
          undocumented.result().mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
