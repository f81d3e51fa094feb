package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Degenerate-corpus robustness for the big compositions: a 100 TB platform
  * routinely sees an EMPTY increment (a crawl slice with nothing new) and
  * near-empty slices (a single surviving doc), and the release/dedup chains
  * must return well-formed audits — not throw in the vocabulary probe, the
  * broadcast pair join, or the unguarded head() of a global aggregate.
  * These run the REGISTERED queries against a corpus written with the real
  * documents schema (sliced from the sf0.001 fixture), so every stage of
  * the composition — not a hand-built core — sees the degenerate input. */
class EdgeCorpusSpec extends AnyFunSuite {
  import TestSession._

  /** Write a documents-only testdata dir holding the given slice. */
  private def corpusDir(tag: String)(slice: org.apache.spark.sql.DataFrame
      => org.apache.spark.sql.DataFrame): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_edge_$tag"
    slice(spark.read.parquet(s"$sf/documents.parquet"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("pipeline_release_e2e on an EMPTY corpus: six all-zero stage rows") {
    val d = corpusDir("empty")(_.where(lit(false)))
    val rows = SparkEntry.queries("pipeline_release_e2e")(spark, d).collect()
    // no shards survive, so exactly the six stage-audit rows remain
    assert(rows.length == 6)
    assert(rows.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L &&
      r.getLong(3) == 0L))
  }

  test("pipeline_release_e2e on a single-doc corpus: audit stays coherent") {
    val d = corpusDir("one")(_.where(col("doc_id") === 7))
    val rows = SparkEntry.queries("pipeline_release_e2e")(spark, d).collect()
    val byStage = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // chain property: each stage's rows_in equals the previous rows_out,
    // starting from the 1-doc corpus
    assert(byStage("1_gopher")._1 == 1L)
    val order = Seq("1_gopher", "2_neardup", "3_decontaminate", "4_quality",
      "5_mix", "6_pack")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(byStage(b)._1 == byStage(a)._2, s"$b.rows_in != $a.rows_out")
    }
  }

  test("null-text and empty-text docs: gopher keeps a row for each, " +
      "release_e2e counts them in and drops both at the gopher stage") {
    // doc 1000 has a null text, doc 1001 an empty one; both ride on the
    // first 40 fixture docs
    def withEdges(docs: org.apache.spark.sql.DataFrame) = {
      val edges = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1000L, null, "en", "src0", 0L),
        org.apache.spark.sql.Row(1001L, "", "en", "src0", 0L))), docs.schema)
      docs.where(col("doc_id") < 40).unionByName(edges)
    }
    val d = corpusDir("null_text")(withEdges)
    val plain = corpusDir("null_text_base")(_.where(col("doc_id") < 40))
    val gopher = SparkEntry.queries("pipeline_gopher_rules")(spark, d)
      .collect()
    assert(gopher.length == 42)
    val byId = gopher.map(r => r.getLong(0) -> r).toMap
    // null text: every measure and verdict, keep included, is null
    assert((1 until byId(1000L).length).forall(byId(1000L).isNullAt))
    // "" splits to one empty token: 1 word of length 0, no stop words,
    // every rule fails
    assert(byId(1001L).toSeq == Seq(1001L, 1L, 0.0, 1.0, 0L,
      false, false, false, false, false))
    // the 40 real docs are scored exactly as without the edge docs
    val base = SparkEntry.queries("pipeline_gopher_rules")(spark, plain)
      .collect().map(_.toString).toSeq
    assert(gopher.filter(_.getLong(0) < 1000L).map(_.toString).toSeq == base)
    // release: the edge docs enter stage 1 and never leave it; every
    // other figure is what the 40 real docs give on their own
    def stages(dir: String) =
      SparkEntry.queries("pipeline_release_e2e")(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
    val got = stages(d)
    val want = stages(plain)
    assert(got("1_gopher") ==
      want("1_gopher").copy(_1 = want("1_gopher")._1 + 2L))
    assert((got - "1_gopher") == (want - "1_gopher"))
  }

  test("pipeline_neardup_full on EMPTY and single-doc corpora") {
    val dEmpty = corpusDir("nd_empty")(_.where(lit(false)))
    assert(SparkEntry.queries("pipeline_neardup_full")(spark, dEmpty)
      .collect().isEmpty)
    val dOne = corpusDir("nd_one")(_.where(col("doc_id") === 3))
    val one = SparkEntry.queries("pipeline_neardup_full")(spark, dOne).collect()
    assert(one.length == 1)
  }

  test("pipeline_train_classifier + eval on an EMPTY corpus: zero-doc fixpoint") {
    // an empty crawl increment must train to the zero model, not throw in
    // the epoch aggregates or the model collect
    val d = corpusDir("train_empty")(_.where(lit(false)))
    val rows = SparkEntry.queries("pipeline_train_classifier")(spark, d)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((1, 0L, 0L, 0L), (2, 0L, 0L, 0L), (3, 0L, 0L, 0L)))
    val ev = SparkEntry.queries("pipeline_classifier_eval")(spark, d).collect()
    assert(ev.length == 1 && ev(0).getLong(0) == 0L)
  }

  test("neardupLabelsFromDocs: empty input yields empty labels via the " +
      "bitmask route (vocab probe and pair join must tolerate zero sets)") {
    val empty = spark.read.parquet(s"$sf/documents.parquet")
      .where(lit(false)).select(col("doc_id"), col("text"))
    val (labels, _) = ops.TextDedup.neardupLabelsFromDocs(empty)
    assert(labels.collect().isEmpty)
  }

  test("releaseStateRefresh with an EMPTY crawl increment is a no-op: " +
      "served audit identical before and after") {
    // The realistic standing-platform edge: a crawl slice lands with
    // nothing new. The refresh must neither corrupt the near-dup state
    // nor change the served release.
    import graft.ops.Pipeline
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_release_empty_inc").toString
    Pipeline.releaseStateWrite(docs.where(col("doc_id") < 200), dir)
    val before = Pipeline.releaseServe(spark, dir)
      .collect().map(_.toString).toSeq
    Pipeline.releaseStateRefresh(docs.where(lit(false)), dir)
    val after = Pipeline.releaseServe(spark, dir)
      .collect().map(_.toString).toSeq
    assert(after == before)
    // and a real increment on top of the empty one still folds in cleanly
    Pipeline.releaseStateRefresh(
      docs.where(col("doc_id") >= 200 && col("doc_id") < 260), dir)
    val grown = Pipeline.releaseServe(spark, dir)
      .collect().map(_.toString).toSeq
    val oneShot = ops.Pipeline.queries("pipeline_release_e2e")(spark,
      corpusDir("inc_260")(_.where(col("doc_id") < 260)))
      .collect().map(_.toString).toSeq
    assert(grown == oneShot)
  }
}
