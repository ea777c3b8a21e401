package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, when}

import graft.cdc.{ApplyEngine, Capture, CdcOps, Diff}
import graft.llm.{Dedup, Multimodal, Similarity}
import graft.sources.Tables

/** Traced-run timers around single public library functions, each followed
  * by a noop materialization of its result. Inputs a call does not own are
  * cached and materialized first, outside the timer. Each call runs as its
  * own job group; the figure is the median of [[Reps]] timed reps after one
  * untimed rep. */
object NamedCalls {
  import Main.{exec, nowMs}

  val Reps = 3

  private def timed(rec: Recorder, name: String)(body: => Unit): (String, Double) = {
    rec.run(s"call:$name")(body)
    val xs = (1 to Reps).map { _ =>
      val t0 = nowMs()
      rec.run(s"call:$name")(body)
      nowMs() - t0
    }
    name -> Stats.median(xs)
  }

  private def cached(df: DataFrame): DataFrame = {
    val c = df.persist()
    exec(c)
    c
  }

  /** The named calls of the `cdc` and `llm` layers. */
  def run(spark: SparkSession, rec: Recorder, dir: String): Seq[(String, Double)] =
    cdc(spark, rec, dir) ++ llm(spark, rec, dir)

  private def cdc(spark: SparkSession, rec: Recorder, dir: String): Seq[(String, Double)] = {
    val ops = cached(CdcOps.ops(spark, dir))
    val st = cached(CdcOps.withState(ops))
    val truth = cached(ApplyEngine.applyState(ops))
    val replayed = cached(ApplyEngine.replayEvents(Capture.log(st), "lsn"))
    val out = Seq(
      timed(rec, "cdc.ops_ms")(exec(CdcOps.withState(CdcOps.ops(spark, dir)))),
      timed(rec, "cdc.capture_ms") {
        exec(Capture.log(st)); exec(Capture.trigger(st)); exec(Capture.poll(st))
      },
      timed(rec, "cdc.apply_ms")(exec(ApplyEngine.applyState(ops))),
      timed(rec, "cdc.diff_ms")(exec(Diff.diffStates(truth, replayed, Seq("val", "k")))))
    Seq(ops, st, truth, replayed).foreach(_.unpersist(true))
    out
  }

  private def llm(spark: SparkSession, rec: Recorder, dir: String): Seq[(String, Double)] = {
    val docs = cached(Tables.documents(spark, dir))
    val emb = cached(Tables.embeddings(spark, dir))
    val media = cached(Multimodal.encodeCorpus(docs))
    val out = Seq(
      timed(rec, "llm.pq_train_ms")(exec(Similarity.pqCodebooks(emb))),
      timed(rec, "llm.ivf_train_ms") {
        val (centroids, lists) = Similarity.ivfIndexBuild(emb)
        exec(centroids); exec(lists)
      },
      timed(rec, "llm.minhash_cand_ms")(exec(Dedup.minhashCandidates(docs))),
      timed(rec, "llm.ahash_ms")(exec(Multimodal.aHash(media))))
    // waste ratio of the LSH stage: verified pairs per candidate pair
    val y = rec.run("call:llm.cand_yield") {
      Dedup.verifyCandidates(docs)
        .agg(count(lit(1)).as("n"), sum(when(col("verified"), 1L).otherwise(0L)).as("v"))
        .collect().head
    }
    val yieldRatio = if (y.getLong(0) == 0) 0.0 else y.getLong(1).toDouble / y.getLong(0).toDouble
    Seq(docs, emb, media).foreach(_.unpersist(true))
    out :+ ("llm.cand_yield" -> yieldRatio)
  }
}
