package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{ApplyEngine, Capture, CdcOps, Diff}
import graft.llm.{Dedup, Multimodal, Similarity}
import graft.sources.Tables
import graft.streaming.StreamsV2
import graft.streaming.Streams.{AssembledTxn, Event, RowState}

/** The library symbols the benchmark calls (perfbench/METRICS.md, "Library
  * symbols the benchmark depends on"), each bound at the type the benchmark
  * uses it with. Renaming one or changing its shape breaks this file's
  * compilation, so `sbt test` fails, not only the benchmark build. Nothing
  * here runs Spark.
  */
class LibraryContractSpec extends AnyFunSuite {

  test("every library symbol the benchmark calls keeps its name and type") {
    val queries: () => Map[String, (SparkSession, String) => DataFrame] =
      () => SparkEntry.queries
    val oracleSql: () => Map[String, String] = () => SparkEntry.oracleSql
    val assembleTxns: Dataset[Event] => Dataset[AssembledTxn] = StreamsV2.assembleTxns(_)
    val applyStream: Dataset[Event] => Dataset[RowState] = StreamsV2.applyStream(_)
    val txnEvents: AssembledTxn => Seq[Event] = _.events
    val event = Event(txId = "tx", txIndex = 0, txTotal = 1, last = true,
      tbl = "t0", pk = "1", opCode = "c", setsVal = true, valV = Some(1.0),
      setsK = false, kV = None, commitTs = 1L, lsn = 1L)
    val row = RowState(tbl = "t0", pk = "1", valV = Some(1.0), kV = None,
      version = 1L, deleted = false, lastLsn = 1L)
    val applyState: DataFrame => DataFrame = ApplyEngine.applyState
    val replayEvents: (DataFrame, String) => DataFrame = ApplyEngine.replayEvents(_, _)
    val diffStates: (DataFrame, DataFrame, Seq[String]) => DataFrame = Diff.diffStates
    val ops: (SparkSession, String) => DataFrame = CdcOps.ops
    val withState: DataFrame => DataFrame = CdcOps.withState
    val log: DataFrame => DataFrame = Capture.log(_)
    val trigger: DataFrame => DataFrame = Capture.trigger(_)
    val poll: DataFrame => DataFrame = Capture.poll(_)
    val pqCodebooks: DataFrame => DataFrame = Similarity.pqCodebooks(_)
    val ivfIndexBuild: DataFrame => (DataFrame, DataFrame) = Similarity.ivfIndexBuild(_)
    val minhashCandidates: DataFrame => DataFrame = Dedup.minhashCandidates(_)
    val verifyCandidates: DataFrame => DataFrame = Dedup.verifyCandidates(_)
    val aHash: DataFrame => DataFrame = Multimodal.aHash
    val encodeCorpus: DataFrame => DataFrame = Multimodal.encodeCorpus
    val documents: (SparkSession, String) => DataFrame = Tables.documents
    val embeddings: (SparkSession, String) => DataFrame = Tables.embeddings

    val bound: Seq[AnyRef] = Seq(queries, oracleSql, assembleTxns, applyStream,
      txnEvents, event, row, applyState, replayEvents, diffStates, ops, withState,
      log, trigger, poll, pqCodebooks, ivfIndexBuild, minhashCandidates,
      verifyCandidates, aHash, encodeCorpus, documents, embeddings)
    assert(bound.forall(_ != null))
  }
}
