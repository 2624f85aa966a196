package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.similarity.IvfIndex
import graft.text.{Bm25, LexicalIndex}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A single-client serving loop over a persisted `IvfIndex` and a
  * persisted `LexicalIndex`, both built during set-up, with curated
  * ingestion beside the reads. The loop runs whole cycles of ten calls,
  * so the mix does not depend on timing: call 6 of each cycle ingests,
  * the others alternate k-NN and BM25 batches of 8 queries (k = 10,
  * collected) whose content comes from the seed. An ingest call runs the
  * curation pipeline ([[CurateDedup]]) on a batch of new documents,
  * materializes the survivors, merges them into the lexical index, and
  * merges 200 new vectors into the IVF index. In the traced run the
  * pipeline runs one layer per span inside the ingest call.
  *
  * Reads touch little data, so per-call fixed cost dominates them; the
  * ingest calls are the shuffle-heavy writes beside the reads, and they
  * grow the indexes' file counts.
  *
  * End-to-end metrics on this workload:
  *  - work_per_s: completed calls (reads and ingests, nine to one) ÷ loop
  *    wall time (checks excluded);
  *  - call_p50_ms: mean of the median k-NN read and the median BM25 read
  *    (a pooled median of the two kinds would jump between them);
  *  - call_tail_ms: tail latency of the read calls, pooled;
  *  - truth_recall: IvfIndex recall@10 against an exact brute-force
  *    top-10 over the same vectors, on a fixed batch of seeded queries;
  *  - truth_score: recall of the curation on the first ingest batch,
  *    planted later copies removed ÷ planted later copies.
  */
object CurateServe {
  val Vectors = 1000
  val Dim = 64
  val Clusters = 64
  val Spread = 0.35
  val Docs = 2000
  val DocTokens = 50
  val Batch = 8
  val K = 10
  val IngestDocs = 2000
  val IngestVectors = 200
  val Cycle = 10
  /** The call of each cycle that ingests; the BM25 read after it is
    * compared with Bm25.topK over the grown corpus. */
  val IngestAt = 6
  /** The loop stops after this many cycles even with time left. */
  val MaxCycles = 6
  /** One batch for the warm-up ingest and one per cycle. */
  val IngestBatches = 1 + MaxCycles
  val RecallQueries = 64

  final class Data(val seed: Long) {
    private val rng = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 3)
    private val centers = Array.fill(Clusters, Dim)(gaussian())
    private def gaussian(): Double = {
      // Box-Muller on the seeded stream
      val u = 1.0 - rng.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
    }
    private def vector(): Array[Double] = {
      val c = centers(rng.nextInt(Clusters))
      Array.tabulate(Dim)(i => c(i) + Spread * gaussian())
    }
    val vectors: Array[Array[Double]] =
      Array.fill(Vectors + IngestBatches * IngestVectors)(vector())
    private val corpus = new Corpus(seed * 131 + 11)
    val docs: Array[String] = Array.fill(Docs)(corpus.tokens(DocTokens).mkString(" "))
    val ingest: Array[CurateDedup.Data] = Array.tabulate(IngestBatches)(b =>
      CurateDedup.generate(seed * 1009 + b, IngestDocs, Docs + b.toLong * IngestDocs))
  }

  private val VecSchema = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(DoubleType, containsNull = false)),
    StructField("batch", IntegerType)))
  private val DocSchema = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType), StructField("batch", IntegerType)))
  private val QuerySchema = StructType(Seq(StructField("qid", LongType),
    StructField("text", StringType)))

  /** Batch -1 is the initial index; batches 0.. are ingested. */
  private def vecRows(d: Data) = d.vectors.indices.map { i =>
    Row(i.toLong, d.vectors(i).toSeq,
      if (i < Vectors) -1 else (i - Vectors) / IngestVectors)
  }
  private def docRows(d: Data) =
    d.docs.indices.map(i => Row(i.toLong, d.docs(i), -1)) ++
      d.ingest.indices.flatMap { b =>
        val g = d.ingest(b)
        g.ids.indices.map(i => Row(g.ids(i), g.texts(i), b))
      }

  private def frame(spark: SparkSession, rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** The `batch` partition of a materialized vector or document table. */
  private def batch(spark: SparkSession, path: String, b: Int): DataFrame =
    spark.read.parquet(path).where(col("batch") === b).drop("batch")

  /** A generator per (seed, call, slot), independent of timing. */
  private def callRng(seed: Long, call: Int, slot: Int) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + (call.toLong << 8) + slot)

  def run(ctx: Ctx): Outcome = {
    import ctx._
    phase("inputs")
    // inputs are generated and materialized once; a set-up repetition is
    // the two index builds, the program's own set-up work
    val d = new Data(seed)
    val vectors = path("serve-vectors")
    val docs = path("serve-docs")
    frame(spark, vecRows(d), VecSchema).write.partitionBy("batch").parquet(vectors)
    frame(spark, docRows(d), DocSchema).write.partitionBy("batch").parquet(docs)
    var tables = Seq.empty[String]
    var vecTable, vecPath, textTable, textPath = ""
    val setupS = setupMedian(3) { rep =>
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      vecTable = s"pb_ivf_$rep"; vecPath = path(s"serve-ivf-$rep")
      textTable = s"pb_lex_$rep"; textPath = path(s"serve-lex-$rep")
      tables = Seq(vecTable, textTable)
      tracer.span("similarity.write") {
        IvfIndex.write(batch(spark, vectors, -1), "id", "vec", vecTable, vecPath)
      }
      tracer.span("text.write") {
        LexicalIndex.write(batch(spark, docs, -1), "id", "text", textTable, textPath)
      }
    }

    var ingested = 0
    val kept = ArrayBuffer.empty[Array[Long]] // surviving ids per ingested batch
    def indexedVectors = Vectors + ingested * IngestVectors

    def knn(call: Int): Array[Row] = {
      val ids = Array.tabulate(Batch)(q => callRng(seed, call, q).nextInt(indexedVectors))
      val q = frame(spark, ids.map(i => Row(i.toLong, d.vectors(i).toSeq)).toSeq,
        StructType(VecSchema.fields.take(2)))
      IvfIndex.topK(spark, vecTable, vecPath, q, "id", "vec", K).collect()
    }
    def queryTexts(call: Int): Seq[Row] = (0 until Batch).map { q =>
      val r = callRng(seed, call, q)
      val words = d.docs(r.nextInt(Docs)).split(" ")
      val start = r.nextInt(words.length - 4)
      Row(q.toLong, words.slice(start, start + 3 + r.nextInt(2)).mkString(" "))
    }
    def bm25(texts: Seq[Row]): Array[Row] =
      LexicalIndex.topK(spark, textTable, textPath, frame(spark, texts, QuerySchema),
        "qid", "text", K).collect()
    /** One ingest call; returns the materialized survivors and, in the
      * traced run, the pipeline's pairs. */
    def ingest(): (DataFrame, Option[CurateDedup.Traced]) = {
      val input = batch(spark, docs, ingested)
      val layered = if (traced) Some(CurateDedup.tracedPipeline(tracer, input)) else None
      val curated = layered.fold(CurateDedup.pipeline(input).localCheckpoint())(_.survivors)
      tracer.span("similarity.merge") {
        IvfIndex.merge(spark, vecTable, vecPath,
          batch(spark, vectors, ingested), "id", "vec")
      }
      tracer.span("text.merge") {
        LexicalIndex.merge(spark, textTable, textPath, curated, "id", "text")
      }
      ingested += 1
      (curated, layered)
    }
    /** Off the clock: the survivors' ids, checked against the planted truth;
      * returns the curation's (recall, precision). */
    def checkIngest(curated: DataFrame): (Double, Double) = {
      val ids = curated.select("id").collect().map(_.getLong(0))
      kept += ids
      CurateDedup.checkOutput(ctx, d.ingest(ingested - 1), ids)
    }
    def checkKnn(rows: Array[Row]): Unit = {
      check("serve: IvfIndex.topK returns at most k rows per query")(
        rows.groupBy(_.getLong(0)).values.forall(_.length <= K))
      check("serve: IvfIndex.topK returns no self-matches")(
        rows.forall(r => r.getLong(0) != r.getLong(1)))
    }
    /** LexicalIndex.topK must equal Bm25.topK over the current corpus: the
      * initial documents plus every ingested survivor. */
    def checkLexical(texts: Seq[Row], served: Array[Row]): Unit = check(
        s"serve: LexicalIndex.topK equals Bm25.topK after $ingested ingests") {
      val survivors = frame(spark, kept.flatten.map(Row(_)).toSeq,
        StructType(Seq(StructField("id", LongType))))
      val corpus = spark.read.parquet(docs)
        .where(col("batch") >= 0 && col("batch") < ingested)
        .join(survivors, Seq("id"), "left_semi").select("id", "text")
        .unionByName(batch(spark, docs, -1))
      val expected = Bm25.topK(corpus, "id", "text", frame(spark, texts, QuerySchema),
        "qid", "text", K).collect()
      served.map(_.toSeq).toSet == expected.map(_.toSeq).toSet
    }

    // warm-up: every call type once, each output checked; no spans, so
    // the per-layer metrics come from the timed loop only
    phase("warm-up and checks")
    val ((knnRecall, top1), (curationRecall, curationPrecision)) = tracer.detached {
      val recall = attempt("warm-up IvfIndex.topK") {
        recallAt10(ctx, d, vecTable, vecPath, indexedVectors, checkKnn)
      }.getOrElse((Double.NaN, Double.NaN))
      val curation = attempt("warm-up ingest") {
        checkIngest(ingest()._1)
      }.getOrElse((Double.NaN, Double.NaN))
      attempt("warm-up LexicalIndex.topK") {
        val texts = queryTexts(-2)
        checkLexical(texts, bm25(texts))
      }
      (recall, curation)
    }

    // the timed closed loop; checks run off the clock
    val knnMs, bm25Ms, ingestMs, knnRows, bm25Rows = ArrayBuffer.empty[Double]
    val tracedReads, untracedReads = ArrayBuffer.empty[Double]
    val yields = ArrayBuffer.empty[Double]
    // traced ingest time the spans of its steps leave unexplained
    val remainders = ArrayBuffer.empty[Double]
    var checkNs = 0L
    def offClock(body: => Unit): Unit = {
      val c0 = System.nanoTime()
      body
      checkNs += System.nanoTime() - c0
    }
    var lexicalChecks = 0
    var ingestedSinceCheck = false
    val loopStart = System.nanoTime()
    var reads = 0
    val calls = loop(Cycle, MaxCycles) { i =>
      val kind = if (i % Cycle == IngestAt) 2 else i % 2
      // in the traced run every other pair of reads goes untraced, to
      // measure the tracing overhead
      val detach = traced && kind < 2 && (reads / 2) % 2 == 1
      if (kind < 2) reads += 1
      def read[T](body: => T): (T, Double) = {
        val r = if (detach) tracer.detached(timed(body)) else timed(body)
        (if (detach) untracedReads else tracedReads) += r._2
        r
      }
      if (kind == 0) attempt("IvfIndex.topK") {
        val (rows, ms) = read(tracer.span("similarity.topK")(knn(i)))
        knnMs += ms
        knnRows += rows.length
        offClock(checkKnn(rows))
      } else if (kind == 1) attempt("LexicalIndex.topK") {
        val texts = queryTexts(i)
        val (rows, ms) = read(tracer.span("text.topK")(bm25(texts)))
        bm25Ms += ms
        bm25Rows += rows.length
        if (ingestedSinceCheck) offClock {
          checkLexical(texts, rows)
          lexicalChecks += 1
          ingestedSinceCheck = false
        }
      } else attempt("ingest") {
        val mark = tracer.mark
        val ((curated, layered), ms) = timed(ingest())
        ingestMs += ms
        offClock {
          if (traced) remainders += ms - tracer.spanMsSince(mark)
          layered.foreach(yields += _.candidateYield)
          checkIngest(curated)
        }
        ingestedSinceCheck = true
      }
    }
    phase("done")
    val loopMs = (System.nanoTime() - loopStart - checkNs) / 1e6
    check("serve: a LexicalIndex.topK read after a loop ingest was compared")(
      lexicalChecks >= 1)
    val completed = knnMs.size + bm25Ms.size + ingestMs.size
    val readMs = (knnMs ++ bm25Ms).toSeq

    def p50(xs: ArrayBuffer[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs.toSeq)
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val counters = tracer.counters()
        val m = layerMedians()
        def spans(layer: String) = counters.filter(_._1.layer == layer).map(_._2)
        def perResult(layer: String, results: ArrayBuffer[Double]) = {
          val read = spans(layer).map(_.recordsRead.toDouble)
          if (read.isEmpty || results.isEmpty) 0.0
          else Stats.median(read) / math.max(Stats.median(results.toSeq), 1.0)
        }
        m ++ Layers.traceSummary(ctx, tracedReads.toSeq, untracedReads.toSeq,
          p50(remainders)) ++ Seq(
          "similarity.topK.rows_read_per_result" -> perResult("similarity.topK", knnRows),
          "text.topK.rows_read_per_result" -> perResult("text.topK", bm25Rows)) ++
          (if (yields.isEmpty) Nil
           else Seq("dedup.candidate_yield" -> Stats.median(yields.toSeq)))
      }
    val (tailPct, tailMs, nReads) =
      if (readMs.isEmpty) (Double.NaN, Double.NaN, 0) else Stats.tail(readMs)
    report("knn_p50_ms", p50(knnMs), "ms")
    report("bm25_p50_ms", p50(bm25Ms), "ms")
    report("ingest_p50_ms", p50(ingestMs), "ms")
    report("read_tail_ms", tailMs, "ms")
    report("read_tail_percentile", tailPct, "%")
    report("read_tail_samples", nReads, "count")
    report("serve_ops_per_s", completed / loopMs * 1000, "1/s")
    report("knn_recall_at_10", knnRecall, "ratio")
    report("knn_top1_agreement", top1, "ratio")
    report("curation_recall", curationRecall, "ratio")
    report("curation_precision", curationPrecision, "ratio")
    report("curation_docs_per_s", IngestDocs / p50(ingestMs) * 1000, "1/s")
    report("serve_calls", calls, "count")
    report("serve_ingests", ingested, "count")
    report("lexical_checks_after_ingests", lexicalChecks, "count")
    Outcome(EndToEnd(setupS, completed / loopMs * 1000,
      (p50(knnMs) + p50(bm25Ms)) / 2, tailMs,
      knnRecall, curationRecall), layers)
  }

  /** Recall@10 and top-1 agreement of IvfIndex.topK against exact cosine
    * top-10 over the first `n` vectors, on a fixed seeded batch whose rows
    * also go through `checkRows`. */
  private def recallAt10(ctx: Ctx, d: Data, table: String, path: String,
                         n: Int, checkRows: Array[Row] => Unit): (Double, Double) = {
    val spark = ctx.spark
    val unit = d.vectors.take(n).map { v =>
      val norm = math.sqrt(v.map(x => x * x).sum); v.map(_ / norm)
    }
    val r = callRng(d.seed, -3, 0)
    val ids = Array.fill(RecallQueries)(r.nextInt(n)).distinct
    val q = frame(spark, ids.map(i => Row(i.toLong, d.vectors(i).toSeq)).toSeq,
      StructType(VecSchema.fields.take(2)))
    val rows = IvfIndex.topK(spark, table, path, q, "id", "vec", K).collect()
    checkRows(rows)
    val got = rows.groupBy(_.getLong(0))
      .map { case (a, rows) => a -> rows.sortBy(_.getLong(3)).map(_.getLong(1)) }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val perQuery = ids.map { a =>
      // the index rounds scores to 6 places and breaks ties by id
      val exact = unit.indices.filter(_ != a)
        .map(b => (b.toLong, math.rint(dot(unit(a), unit(b)) * 1e6) / 1e6))
        .sortBy { case (b, s) => (-s, b) }.take(K).map(_._1)
      val approx = got.getOrElse(a.toLong, Array.empty[Long])
      (exact.count(approx.contains).toDouble / K,
        if (approx.headOption.contains(exact.head)) 1.0 else 0.0)
    }
    ctx.check("serve: IvfIndex.topK answers every recall query")(got.size == ids.length)
    (perQuery.map(_._1).sum / ids.length, perQuery.map(_._2).sum / ids.length)
  }
}
