package perfbench

import java.io.File

import graft.dedup.DedupOps
import graft.delta.{DeltaSnapshotReader, DeltaWriter}
import graft.sim.SimOps
import graft.text.{PipelineOps, QualityOps}

/** The LLM-data half of `pipelines`: text quality filters, exact and
  * MinHash dedup, ANN and semantic dedup over a fresh seeded corpus, and a
  * Delta write of the survivors. Each corpus carries injected exact copies
  * and near-duplicates (documents and embeddings) that must all be found. */
object LlmPipeline {
  val Docs = 600L
  val ExactCopies = 20
  val NearCopies = 20
  val Vectors = 500L
  val NearVectors = 10
  val CorpusSize: Long = Docs + ExactCopies + NearCopies

  final case class Corpus(dir: File, exact: Seq[(Long, Long)], near: Seq[(Long, Long)])

  def generate(ctx: Ctx, i: Int): Corpus = {
    val g = new Gen(ctx.spark, ctx.seed * 1000 + i)
    val dir = ctx.dir(s"corpus$i")
    val (docs, exact, near) = g.documents(Docs, ExactCopies, NearCopies)
    docs.write.parquet(new File(dir, "documents.parquet").toString)
    g.embeddings(Vectors, NearVectors).write.parquet(new File(dir, "embeddings.parquet").toString)
    Corpus(dir, exact, near)
  }

  /** Totals over the iterations of one run. */
  final class Totals {
    var docs, keep, pairs, nearFound, nearInjected = 0L
  }

  /** One pass of the pipeline over corpus `c`; `step` times each call. */
  def iterate(ctx: Ctx, c: Corpus, i: Int, out: Outcome, totals: Totals,
              run: Timer): Unit = {
    val spark = ctx.spark
    val dir = c.dir.toString
    val gopher = run("text", "gopherQuality")(QualityOps.gopherQuality(spark, dir).collect())
    run("text", "repetition")(QualityOps.repetition(spark, dir).collect())
    run("text", "urlFilter")(QualityOps.urlFilter(spark, dir).collect())
    val quality = run("text", "qualityFilter")(PipelineOps.qualityFilter(spark, dir).collect())
    val exact = run("dedup", "dedupExact")(DedupOps.dedupExact(spark, dir).collect())
    val near = run("dedup", "dedupMinhash")(DedupOps.dedupMinhash(spark, dir).collect())
    val ann = run("sim", "annIvf")(SimOps.annIvf(spark, dir).collect())
    val sem = run("sim", "semanticDedup")(SimOps.semanticDedup(spark, dir).collect())

    val passing = gopher.filter(_.getInt(gopher.head.fieldIndex("passes")) == 1).map(_.getLong(0)).toSet
    val keepers = exact.map(_.getLong(0)).toSet
    val nearPairs = near.map(r => (r.getLong(0), r.getLong(1))).toSet
    val survivors = passing -- nearPairs.map(_._2) -- c.exact.map(_._2)
    val table = new File(ctx.work, s"survivors$i").toString
    run("delta.write", "write") {
      val ids = spark.createDataFrame(survivors.toSeq.map(Tuple1(_))).toDF("doc_id")
      val docs = spark.read.parquet(new File(c.dir, "documents.parquet").toString)
      DeltaWriter.write(docs.join(ids, "doc_id"), table)
    }
    totals.docs += CorpusSize; totals.keep += passing.size; totals.pairs += nearPairs.size
    totals.nearInjected += c.near.size; totals.nearFound += c.near.count(nearPairs.contains)

    out.attempt("gopherQuality scores every document")(gopher.length == CorpusSize)
    out.attempt("qualityFilter keeps some documents")(quality.nonEmpty)
    out.attempt("every injected exact copy is found") {
      val groups = exact.map(r => r.getLong(0) -> r.getLong(1)).toMap
      c.exact.forall { case (orig, copy) => groups.get(orig).exists(_ >= 2) && !keepers(copy) }
    }
    out.attempt("every injected near-duplicate pair is found")(c.near.forall(nearPairs.contains))
    out.attempt("each ANN query's nearest neighbour is its injected copy") {
      (0 until 3).forall { q =>
        ann.exists(r => r.getLong(0) == q && r.getInt(1) == 1 && r.getLong(3) == Vectors + q)
      }
    }
    out.attempt("semanticDedup assigns every vector")(sem.map(_.getLong(1)).sum == Vectors + NearVectors)
    out.attempt("the survivors table holds exactly the survivors") {
      DeltaSnapshotReader.load(spark, table).count() == survivors.size
    }
  }

  def report(out: Outcome, totals: Totals, iterations: Int): Unit = {
    out.lines += s"corpus per iteration = $Docs documents + $ExactCopies exact copies + " +
      s"$NearCopies near-duplicates, $Vectors embeddings + $NearVectors near copies"
    out.layer("text.keep_ratio") = totals.keep.toDouble / math.max(1L, totals.docs)
    out.layer("dedup.recall") = totals.nearFound.toDouble / math.max(1L, totals.nearInjected)
    out.layer("dedup.pairs_found") = totals.pairs.toDouble / math.max(1, iterations)
  }
}
