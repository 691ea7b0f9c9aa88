package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The LLM-data curation flow over the benchmark's corpus: near-dup
  * clusters and containment pairs, the Gopher quality gate, BPE train
  * and encode, sequence packing. Every step's output is written, and
  * the outputs are compared with the registered DuckDB oracles.
  *
  * Each run times one flow, the first of a fresh process: no operator
  * memo has been built yet, and cold JIT and codegen are included, as a
  * batch job pays them. The flow is longer than the timed phase, so the
  * deadline is not consulted.
  */
final class CurationFlow extends Scenario {
  def run(ctx: Ctx, deadlineNs: Long, res: PhaseResult): Unit = {
    val t0 = System.nanoTime()
    val ok = try { ctx.tracer.newRequest(flow(ctx, out(ctx))); true }
    catch { case e: Exception =>
      res.fail(s"flow threw: $e"); false
    }
    res.ops += Op("flow", write = false, t0, System.nanoTime(), ok)
  }

  private def out(ctx: Ctx): String = s"${ctx.work}/out"

  /** step output name -> (span, producer, oracle query name) */
  private def steps(ctx: Ctx): Seq[(String, String, () => DataFrame, String)] = {
    val e = ctx.engine
    Seq(
      ("q92_dedup_clusters", "text.dedup", () => e.query("q92_dedup_clusters"),
        "q92_dedup_clusters"),
      ("containment", "text.dedup", () => e.containmentDedup(e.table("documents")),
        "q169_containment_dedup"),
      ("gopher_gate", "text.gate", () => e.gopherGate(e.table("documents")),
        "q144_gopher_rules"),
      ("q134_bpe_train", "text.tokenizer", () => e.query("q134_bpe_train"),
        "q134_bpe_train"),
      ("q136_bpe_encode", "text.encode", () => e.query("q136_bpe_encode"),
        "q136_bpe_encode"),
      ("q89_pack_chunks", "text.pack", () => e.query("q89_pack_chunks"),
        "q89_pack_chunks"))
  }

  /** One flow run writing its outputs under `dir`. */
  def flow(ctx: Ctx, dir: String): Unit =
    steps(ctx).foreach { case (name, span, df, _) =>
      ctx.span(s"$span:$name") { df().write.parquet(s"$dir/$name") }
    }

  def check(ctx: Ctx, res: PhaseResult): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val jobs = steps(ctx).map { case (name, _, _, q) =>
      name -> Json.obj("dir" -> Json.str(s"${out(ctx)}/$name"),
        "sql" -> Json.str(oracle(q)))
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${ctx.work}/oracle_jobs.json"), Json.obj(jobs: _*))
    // survivors: not a non-keeper of a near-dup cluster, and passing the gate
    val clusters = ctx.spark.read.parquet(s"${out(ctx)}/q92_dedup_clusters")
    val gate = ctx.spark.read.parquet(s"${out(ctx)}/gopher_gate")
    val total = gate.count()
    val kept = gate.filter(col("gopher_pass"))
      .join(clusters.filter(!col("keep")), Seq("doc_id"), "left_anti").count()
    res.layer("text.kept_frac") = kept.toDouble / total
  }
}
