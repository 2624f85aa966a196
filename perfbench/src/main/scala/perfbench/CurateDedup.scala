package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.dedup.{Dedup, MinHashDedup}
import graft.text.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The curation pipeline the serving workload runs on every ingested batch
  * before merging it: exact dedup, a quality filter, then MinHash
  * near-dedup. It is the shuffle- and join-heavy part of the benchmark:
  * LSH banding, pair confirmation, connected components.
  *
  * A quarter of each batch belongs to planted families of 2 to 20 near
  * copies (about 5% of tokens dropped or replaced; a fifth of the copies
  * exact). Family size sets how much work documents share, since candidate
  * pairs grow with its square. Near misses (a shared 30-40 token prefix,
  * Jaccard below the threshold) become LSH candidates that confirmation
  * must reject, and short repetitive junk documents are for the quality
  * filter.
  */
object CurateDedup {
  val DocTokens = 50
  val FamilyShare = 0.25
  val EditRate = 0.05
  val ExactCopyShare = 0.2
  val JunkShare = 0.03
  val NearMissShare = 0.10
  val MinQuality = 0.5
  /** Below `MinHashDedup.dedup`'s default (0.8): with 5% of tokens edited, a
    * copy's word 3-shingle Jaccard against its original is about 0.7. */
  val Threshold = 0.7

  /** Documents with their planted truth: `family(i)` is -1 outside any
    * family; `junk(i)` marks documents meant for the quality filter. */
  final case class Data(ids: Array[Long], texts: Array[String],
                        family: Array[Int], junk: Array[Boolean])

  /** `n` documents with ids `idBase` until `idBase + n`, shuffled. */
  def generate(seed: Long, n: Int, idBase: Long): Data = {
    val c = new Corpus(seed * 31 + 7)
    val texts = ArrayBuffer.empty[String]
    val family = ArrayBuffer.empty[Int]
    val junk = ArrayBuffer.empty[Boolean]
    def add(doc: Array[String], f: Int, j: Boolean): Unit = {
      texts += doc.mkString(" "); family += f; junk += j
    }
    var fam = 0
    while (texts.size < n * FamilyShare) {
      val size = 2 + math.floor(19 * math.pow(c.nextDouble(), 2)).toInt
      val original = c.tokens(DocTokens)
      add(original, fam, j = false)
      for (_ <- 1 until size)
        add(if (c.nextDouble() < ExactCopyShare) original
            else c.edit(original, EditRate), fam, j = false)
      fam += 1
    }
    while (texts.size < n * (FamilyShare + JunkShare)) {
      val w = s"${('a' + c.nextInt(26)).toChar}${('a' + c.nextInt(26)).toChar}"
      add(Array.fill(6)(w), -1, j = true)
    }
    val singles = ArrayBuffer.empty[Array[String]]
    while (texts.size < n) {
      val doc =
        if (singles.nonEmpty && c.nextDouble() < NearMissShare) {
          val keep = 30 + c.nextInt(11)
          singles(c.nextInt(singles.size)).take(keep) ++ c.tokens(DocTokens - keep)
        } else c.tokens(DocTokens)
      singles += doc
      add(doc, -1, j = false)
    }
    Data(c.permutation(n).map(idBase + _), texts.toArray, family.toArray, junk.toArray)
  }

  def pipeline(input: DataFrame): DataFrame =
    MinHashDedup.dedup(
      Dedup.exact(input, "id", "text")
        .filter(TextFunctions.qualityScore(col("text")) >= MinQuality),
      "id", "text", threshold = Threshold)

  /** The pipeline's outputs in the traced run: the survivors, and the
    * candidate and confirmed pairs, all materialized. */
  final case class Traced(survivors: DataFrame, candidates: DataFrame,
                          confirmed: DataFrame) {
    /** Confirmed ÷ candidate pairs. */
    def candidateYield: Double =
      confirmed.count().toDouble / math.max(candidates.count(), 1L)
  }

  /** The pipeline one layer per span, each layer's input materialized
    * before its span. `dedup.candidatePairs` runs again inside
    * `dedup.confirmedPairs`; only the last step, keeping each component's
    * smallest id as `MinHashDedup.dedup` does, runs outside any span. */
  def tracedPipeline(tracer: Tracer, input: DataFrame): Traced = {
    val exact = tracer.span("dedup.exact") {
      Dedup.exact(input, "id", "text").localCheckpoint()
    }
    val good = tracer.span("text.qualityScore") {
      exact.filter(TextFunctions.qualityScore(col("text")) >= MinQuality).localCheckpoint()
    }
    val candidates = tracer.span("dedup.candidatePairs") {
      MinHashDedup.candidatePairs(good, "id", "text").localCheckpoint()
    }
    val confirmed = tracer.span("dedup.confirmedPairs") {
      MinHashDedup.confirmedPairs(good, "id", "text", Threshold).localCheckpoint()
    }
    val components = tracer.span("dedup.connectedComponents") {
      MinHashDedup.connectedComponents(confirmed).localCheckpoint()
    }
    // a component is labelled by its smallest id
    val dropped = components.where(col("id") =!= col("component")).select("id")
    Traced(good.join(dropped, Seq("id"), "left_anti").localCheckpoint(),
      candidates, confirmed)
  }

  /** Checks the kept ids against the planted truth and returns
    * (recall, precision) of the removed documents. */
  def checkOutput(ctx: Ctx, d: Data, kept: Array[Long]): (Double, Double) = {
    val keptSet = kept.toSet
    ctx.check("dedup: kept ids are unique")(keptSet.size == kept.length)
    val index = d.ids.zipWithIndex.toMap
    ctx.check("dedup: kept ids are a subset of the input")(kept.forall(index.contains))
    val families = d.ids.indices.filter(d.family(_) >= 0).groupBy(d.family(_))
    ctx.check("dedup: every planted family keeps a member")(
      families.values.forall(_.exists(i => keptSet(d.ids(i)))))
    val laterCopies = families.values.flatMap { members =>
      val first = members.minBy(d.ids(_))
      members.filter(_ != first).map(d.ids(_))
    }.toSet
    val removed = d.ids.filterNot(keptSet)
    val removedCopies = removed.count(laterCopies)
    val removedNonJunk = removed.count(id => !d.junk(index(id)))
    (removedCopies.toDouble / laterCopies.size,
      removedCopies.toDouble / math.max(removedNonJunk, 1))
  }
}
