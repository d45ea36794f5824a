package perfbench

import graft.pipeline.{Doc, Lineage, ParquetSnapshotStore, Span, SynthCorpus}
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.util.hashing.MurmurHash3

/** The benchmark workloads. Every input is a pure function of the seed; the
  * program under test only ever sees the parquet written here (plus, for
  * `resume_mega`, a store of runs the program itself committed).
  */
sealed abstract class Workload(val name: String) {

  /** Docs each timed pass reads. */
  def inputDocs: Long

  def generate(spark: SparkSession, seed: Long): Dataset[Doc]

  /** Commits made into the store in set-up round `round` (none by default). */
  def prepareStore(spark: SparkSession, input: String, store: String, seed: Long, round: Int): Unit = ()

  /** Whether a doc is left for the timed passes to extract. */
  def pending(docId: String, seed: Long): Boolean = true
}

object Workload {
  val MixedDocs = 6000L
  /** Files the generated table is written as; the scan splits by file. */
  val InputFiles = 16

  /** `SynthCorpus`'s 20-class mix. No doc comes near the 512 KB
    * `megaDocBytes`, so every doc takes the unsalted branch.
    */
  object ExtractMixed extends Workload("extract_mixed") {
    def inputDocs: Long = MixedDocs
    def generate(spark: SparkSession, seed: Long): Dataset[Doc] =
      SynthCorpus.generate(spark, MixedDocs, seed, partitions = InputFiles)
  }

  /** Mega-docs of ~1 MB of text and media spans (classes 0-4, 6, 7 of
    * `SynthCorpus`), spread among small mixed docs so that they carry most
    * of the input bytes and take the salted branch, over a store in which
    * an earlier committed run already covers nine tenths of the small docs.
    * The mega-docs and the uncovered tenth are new; failed docs of the
    * earlier run are in no manifest, so each pass retries them too.
    */
  object ResumeMega extends Workload("resume_mega") {
    val MegaDocs = 7
    /** A multiple of 200, so each bucket below holds the same class mix. */
    val SmallDocs = 1000
    val MegaBytes: Long = 1L << 20
    def inputDocs: Long = MegaDocs + SmallDocs

    private val stride = (MegaDocs + SmallDocs) / MegaDocs

    def generate(spark: SparkSession, seed: Long): Dataset[Doc] = {
      import spark.implicits._
      spark.range(0, inputDocs, 1, InputFiles).map { r =>
        if (r % stride == 0 && r / stride < MegaDocs) megaDoc((r / stride).toInt, seed)
        else SynthCorpus.mkDoc(r - math.min(MegaDocs, r / stride + 1), seed)
      }
    }

    def megaDoc(j: Int, seed: Long): Doc = {
      val out = Vector.newBuilder[Span]
      var bytes = 0L
      var offset = 0
      var src = 1000000L * (j + 1)
      while (bytes < MegaBytes) {
        val cls = (src % 20).toInt
        if (cls <= 4 || cls == 6 || cls == 7)
          SynthCorpus.mkDoc(src, seed).spans.sortBy(_.offset).foreach { s =>
            out += s.copy(offset = offset)
            offset += 1
            bytes += s.text.length + s.media_ref.length
          }
        src += 1
      }
      Doc(s"mega$j", out.result())
    }

    /** Small docs are bucketed by runs of 20 consecutive ids (one of each
      * `SynthCorpus` class), rotated by the seed, so every bucket has the
      * same class mix.
      */
    private def bucket(docId: String, seed: Long): Int =
      if (docId.startsWith("mega")) 9
      else Math.floorMod(docId.stripPrefix("doc").toLong / 20 + MurmurHash3.stringHash(seed.toString), 10)

    override def pending(docId: String, seed: Long): Boolean = bucket(docId, seed) == 9

    /** The first round commits the earlier run, over buckets 0-8. */
    override def prepareStore(spark: SparkSession, input: String, store: String, seed: Long, round: Int): Unit =
      if (round == 0) {
        val part = Run.readDocs(spark, input).filter(d => bucket(d.doc_id, seed) < 9)
        Lineage.run(part, new ParquetSnapshotStore(store), "prior")
      }
  }

  val All: Seq[Workload] = Seq(ExtractMixed, ResumeMega)

  def byName(n: String): Workload =
    All.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$n' (${All.map(_.name).mkString(", ")})"))
}
