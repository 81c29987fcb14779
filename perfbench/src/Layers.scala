package perfbench

import org.apache.spark.sql.functions._
import graft.index.{Bm25, Builder, Codec, PostingBlock, Tokenizer}
import graft.ops.{Dedup, TextOps}
import graft.query.{IndexHandle, Wand}
import graft.streaming.{Compactor, IncrementalIndexer}
import Main.{Ctx, median, nowS}
import Workloads.{timed, K}

/** Per-layer probes for traced runs. Each probe calls one layer's public
  * functions directly, on the run's own index and inputs where it has
  * them. A layer the workload never calls is probed on small side inputs
  * from the same seed, so every traced run reports every layer metric. */
object Layers {

  private var compactions = 0
  private var bytesRewritten = 0L

  /** The Compactor's size-tiered check, made explicitly after an ingest
    * batch written with autoCompact = false. */
  def compact(c: Ctx, idx: String): Unit = {
    val (fired, ms) = timed(Trace.span("compactor.maybeCompact") {
      Compactor.maybeCompact(c.spark, idx, Workloads.IndexConfig)
    })
    if (fired) {
      compactions += 1
      bytesRewritten += graft.util.Fs.dirBytes(c.spark, s"$idx/postings")
      c.layer("compactor.compact_ms", ms, "ms")
    }
    c.layerTotal("compactor.compactions", compactions, "count")
    c.layerTotal("compactor.bytes_rewritten", bytesRewritten.toDouble, "B")
  }

  private val BlockCols = Seq("term", "block_id", "doc_id_base", "doc_id_max",
    "num_docs", "max_tf", "min_dl", "doc_deltas", "tfs", "dls")

  /** blocksFor + collect per query, Wand.topK on the collected blocks
    * with no Spark, and Codec over every block of the index. */
  def serveProbes(c: Ctx, idx: String, texts: Seq[String]): Unit = {
    import c.spark.implicits._
    val h = IndexHandle.open(c.spark, idx)
    var scored = 0L
    var wandNs = 0L
    var decoded = 0L
    var total = 0L
    texts.foreach { text =>
      val terms = Check.tokenize(text).distinct.toSeq
      val dict = h.dfOf(terms)
      if (terms.nonEmpty && terms.forall(dict.contains)) {
        val (blocks, ms) = timed(Trace.span("handle.blocksFor") {
          h.blocksFor(terms).select(BlockCols.map(col): _*).as[PostingBlock].collect()
        })
        c.layer("handle.blocks_for_ms", ms, "ms")
        val tbs = terms.map { t =>
          Wand.TermBlocks(t, Bm25.idf(h.stats.n_docs, dict(t)),
            blocks.filter(_.term == t).sortBy(_.doc_id_base))
        }
        val runs = (0 until 3).map { _ =>
          val t0 = System.nanoTime()
          val (_, st) = Trace.span("wand.topK")(Wand.topK(tbs, K, h.stats.avgdl, Wand.And))
          (System.nanoTime() - t0, st)
        }
        val (ns, st) = runs.sortBy(_._1).apply(1)
        c.layer("wand.topk_us", ns / 1e3, "us")
        scored += st.docsScored; wandNs += ns
        decoded += st.blocksDecoded; total += st.blocksTotal
      }
    }
    if (wandNs > 0) c.layerTotal("wand.postings_per_s", scored / (wandNs / 1e9), "1/s")
    if (total > 0) c.layerTotal("wand.blocks_decoded_frac", decoded.toDouble / total, "ratio")

    val all = h.blocks.select(BlockCols.map(col): _*).as[PostingBlock].collect()
    val postings = all.map(_.num_docs.toLong).sum
    (0 until 5).foreach { _ =>
      val t0 = System.nanoTime()
      val dec = all.map(b => (Codec.decodeDeltas(b.doc_deltas, b.num_docs),
        Codec.decodeInts(b.tfs, b.num_docs), Codec.decodeInts(b.dls, b.num_docs)))
      val t1 = System.nanoTime()
      var bytes = 0L
      dec.foreach { case (ids, tfs, dls) =>
        bytes += Codec.encodeDeltas(ids).length + Codec.encodeInts(tfs).length +
          Codec.encodeInts(dls).length
      }
      val t2 = System.nanoTime()
      c.layer("codec.decode_ns_per_posting", (t1 - t0).toDouble / postings, "ns")
      c.layer("codec.encode_ns_per_posting", (t2 - t1).toDouble / postings, "ns")
      c.layerTotal("codec.bytes_per_posting", bytes.toDouble / postings, "B")
    }
  }

  /** The public functions cleanCorpus composes, one by one, on slices. */
  def cleanProbes(c: Ctx, tbl: String, slices: Seq[Int]): Unit =
    slices.foreach { s =>
      val docs = Workloads.sliceFrame(c.spark, tbl, s)
      val toks = Builder.tokensCol(col("text"))
      c.layer("textops.signals_ms", timed(Trace.span("textops.signals") {
        docs.select(col("doc_id"), size(toks), TextOps.langPredCol(toks)).collect()
      })._2, "ms")
      c.layer("dedup.exact_ms", timed(Trace.span("dedup.exactGroups") {
        Dedup.exactGroups(docs).collect()
      })._2, "ms")
      val (pairs, pairMs) = timed(Trace.span("dedup.jaccardPairs") {
        val p = Dedup.jaccardPairs(docs, k = 3, minJ = 0.5)
        (p, p.collect().length)
      })
      c.layer("dedup.jaccard_pairs_ms", pairMs, "ms")
      c.layer("dedup.pairs", pairs._2, "count")
      c.layer("dedup.components_ms", timed(Trace.span("dedup.connectedComponents") {
        Dedup.connectedComponents(docs.select("doc_id"), pairs._1).collect()
      })._2, "ms")
    }

  /** Side index for runs that build none: a small code corpus. */
  val SideDocs = 2000

  /** Probe every layer metric the workload did not produce itself. */
  def fill(c: Ctx, workload: String): Unit = {
    val spark = c.spark
    def floor(name: String)(body: => Unit): Unit =
      (0 until 15).foreach(_ => c.layer(name, timed(body)._2, "ms"))
    floor("spark.floor_job_ms")(spark.range(1).count())
    floor("spark.floor_shuffle_ms") {
      spark.range(0, 4, 1, 4).groupBy(col("id") % 2).count().collect()
    }

    val code = Inputs.codeCorpus(c.seed, "side", SideDocs)
    val mb = code.map(_.content.length.toLong).sum / 1e6
    (0 until 5).foreach { _ =>
      val t0 = nowS
      code.foreach(d => Tokenizer.tokens(d.content))
      c.layer("tokenizer.mb_per_s", mb / (nowS - t0), "MB/s")
    }

    if (!c.hasLayer("ingest.batch_ms")) {
      // lookup and bulk ingest into their own index; clean builds one
      val idx = if (workload == "clean") {
        val dir = s"${c.work}/side-index"
        Workloads.writeCodeTable(spark, code, s"${c.work}/side-corpus")
        Workloads.build(c, spark.read.parquet(s"${c.work}/side-corpus"), dir, Workloads.IndexConfig)
        Workloads.openHandle(c, dir)
        serveProbes(c, dir, code.take(40).map(d => Check.tokenize(d.content).take(2).mkString(" ")))
        dir
      } else s"${c.work}/index"
      val n = IndexHandle.open(spark, idx).stats.n_docs
      // a batch of 15 % of the index crosses the Compactor's 10 % rule
      val batch = Inputs.codeCorpus(c.seed, "sideb", (n * 0.15).toInt + 1)
      Workloads.writeCodeTable(spark, batch, s"${c.work}/side-batch")
      val (_, ms) = timed(Trace.span("ingest.batch") {
        IncrementalIndexer.ingestBatch(spark, spark.read.parquet(s"${c.work}/side-batch"),
          idx, Workloads.IndexConfig, 1000L, autoCompact = false)
      })
      c.layer("ingest.batch_ms", ms, "ms")
      compact(c, idx)
    }

    if (!c.hasLayer("dedup.pairs")) {
      val (tbl, _) = Workloads.proseTable(c, 3, "side-prose")
      cleanProbes(c, tbl, 0 until 3)
    }
    c.layerTotal("trace.spans", Trace.count, "count")
  }
}
