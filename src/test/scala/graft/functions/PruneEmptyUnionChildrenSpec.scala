package graft.functions

import graft.core.Extractor
import graft.pipeline._
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.{AppendColumnsWithObjectExec, DeserializeToObjectExec, MapElementsExec, MapGroupsExec, QueryExecution, SerializeFromObjectExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ExchangeQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_COL}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The AQE rule [[PruneEmptyUnionChildren]], in a session that installs
  * [[GraftExtensions]], against the same work in a session without it.
  */
class PruneEmptyUnionChildrenSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val plain = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** `body` in a fresh session with the extension, built like
    * GraftExtensionsSpec's: the active and default session are cleared
    * before and after, and the shared context is never stopped.
    */
  private def withExtensions(body: SparkSession => Unit): Unit = {
    plain // created first, so it stays extension-free
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try body(s) finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  private def has(plan: SparkPlan)(p: SparkPlan => Boolean): Boolean = find(plan)(p).isDefined

  private def saltedChain(p: SparkPlan): Boolean =
    p.isInstanceOf[MapGroupsExec] || p.isInstanceOf[AppendColumnsWithObjectExec]

  /** Whether `p` writes a run's `output/` table. */
  private def writesOutput(p: SparkPlan): Boolean = has(p) {
    case w: DataWritingCommandExec => w.cmd match {
      case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getParent.getName == "output"
      case _ => false
    }
    case _ => false
  }

  /** Commits `cfg`'s extraction of `n` synthetic docs under `root` as run
    * `r1` through `Lineage.run`, reading them from parquet as a production
    * run does, and returns the final plan of the output write.
    */
  private def commitAndPlan(s: SparkSession, root: String, n: Long,
      cfg: ExtractPipeline.PipelineConfig): SparkPlan = {
    val input = Files.createTempDirectory("docs").resolve("t").toString
    SynthCorpus.generate(s, n, seed = 42L, partitions = 8).write.parquet(input)
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (writesOutput(qe.executedPlan)) plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      val corpus = s.read.parquet(input).as[Doc](Encoders.product[Doc])
      Lineage.run(corpus, new ParquetSnapshotStore(root), "r1", cfg)
      // listeners hear of executions asynchronously
      eventually(timeout(30.seconds)) { assert(!plans.isEmpty) }
    } finally s.listenerManager.unregister(listener)
    assert(plans.size == 1, "expected one output write")
    plans.peek()
  }

  /** The operators of the output write's result stage: those above its
    * union (none when the union was pruned) and those of each branch.
    */
  private def resultStage(plan: SparkPlan): (Seq[SparkPlan], Seq[Seq[SparkPlan]]) = {
    def ops(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: ExchangeQueryStageExec | _: Exchange => Nil
      case _ => p +: allChildren(p).flatMap(ops)
    }
    def toUnion(p: SparkPlan): Option[(Seq[SparkPlan], UnionExec)] = p match {
      case u: UnionExec => Some((Nil, u))
      case _: ExchangeQueryStageExec | _: Exchange => None
      case _ => allChildren(p).iterator.flatMap(toUnion).nextOption().map { case (above, u) => (p +: above, u) }
    }
    toUnion(plan) match {
      case Some((above, u)) => (above, u.children.map(ops))
      case None => (Nil, Seq(ops(plan)))
    }
  }

  /** Each output row is serialized once, by its branch: no object
    * conversion above the union, and one serializer in each branch.
    */
  private def assertOneSerializerPerBranch(plan: SparkPlan): Unit = {
    val (above, branches) = resultStage(plan)
    assert(!above.exists(o => o.isInstanceOf[DeserializeToObjectExec] || o.isInstanceOf[SerializeFromObjectExec]),
      s"object conversion above the union: ${above.map(_.nodeName)}")
    assert(branches.map(_.count(_.isInstanceOf[SerializeFromObjectExec])) == branches.map(_ => 1),
      s"serializers per branch: ${branches.map(_.map(_.nodeName))}")
  }

  private def tables(root: String) = {
    import plain.implicits._
    val output = plain.read.parquet(s"$root/output/run=r1").as[ExtractedDoc].collect().sortBy(_.doc_id).toSeq
    val metrics = new ParquetSnapshotStore(root).runMetrics(plain, "r1").collect()
      .map(m => (m.run_id, m.partition_id, m.docs, m.bytes, m.spans, m.failures)).sortBy(_._2).toSeq
    val manifest = plain.read.parquet(s"$root/manifest/run=r1").as[String].collect().sorted.toSeq
    (output, metrics, manifest)
  }

  test("no mega-doc: the commit runs without the salted chain and commits the same tables") {
    val cfg = ExtractPipeline.PipelineConfig()
    val withRule = Files.createTempDirectory("lineage").toString
    val without = Files.createTempDirectory("lineage").toString
    withExtensions { s =>
      val plan = commitAndPlan(s, withRule, 60L, cfg)
      assert(!has(plan)(saltedChain), "salted chain still in the plan")
      assertOneSerializerPerBranch(plan)
    }
    val unpruned = commitAndPlan(plain, without, 60L, cfg)
    assert(has(unpruned)(saltedChain), "no salted chain without the rule")
    assertOneSerializerPerBranch(unpruned)
    val (output, metrics, manifest) = tables(withRule)
    assert(output.length == 60)
    assert(metrics.map(_._3).sum == 60)
    assert(manifest.nonEmpty)
    assert((output, metrics, manifest) == tables(without))
  }

  test("mega-docs: the salted chain stays and the output equals the per-doc reference") {
    val root = Files.createTempDirectory("lineage").toString
    withExtensions { s =>
      val cfg = ExtractPipeline.PipelineConfig(megaDocBytes = 2048)
      val plan = commitAndPlan(s, root, 40L, cfg)
      assert(has(plan)(saltedChain), "salted chain pruned")
      assertOneSerializerPerBranch(plan)
      // the spread is sized by AQE: a repartition by columns, read coalesced
      val spread = collect(plan) { case q: ShuffleQueryStageExec if q.shuffle.shuffleOrigin == REPARTITION_BY_COL => q }
      assert(spread.length == 1, "no salted spread by columns")
      assert(collect(plan) { case r: AQEShuffleReadExec => r.child }.contains(spread.head),
        "salted spread not read through AQE")
    }
    val (output, _, _) = tables(root)
    assert(output.map(_.doc_id) == (0L until 40L).map(i => s"doc$i").sorted)
    for (d <- output) {
      val doc = SynthCorpus.mkDoc(d.doc_id.drop(3).toLong, 42L)
      val r = Extractor.extract(doc.doc_id, doc.spans)
      assert(d.failure == r.failure, s"${d.doc_id} failure")
      assert(d.spans == r.spans, s"${d.doc_id} spans")
    }
  }

  test("mapPartitions over an empty repartition keeps its rows in a union") {
    def rows(s: SparkSession): Seq[Int] = {
      import s.implicits._
      val fromEmpty = s.range(10).as[Long].filter(_ > 100).repartition(4).mapPartitions(_ => Iterator(1))
      Seq(7).toDS().union(fromEmpty).collect().sorted.toSeq
    }
    withExtensions(s => assert(rows(s) == Seq(1, 1, 1, 1, 7)))
    assert(rows(plain) == Seq(1, 1, 1, 1, 7))
  }

  test("an empty typed first child leaves the union's column names and rows") {
    withExtensions { s =>
      import s.implicits._
      val empty = s.range(10).as[Long].filter(_ > 100).repartition(4)
        .map(x => (x, x.toString)).toDF("a", "b")
      val u = empty.union(Seq((1L, "one"), (2L, "two")).toDF("x", "y"))
      // a typed operator above the union binds to the union's own attributes
      val q = u.as[(Long, String)].map { case (a, b) => s"$b=$a" }
      assert(q.collect().sorted.toSeq == Seq("one=1", "two=2"))
      assert(collect(q.queryExecution.executedPlan) { case m: MapElementsExec => m }.length == 1,
        "empty child not pruned")
      val dir = Files.createTempDirectory("union").resolve("t").toString
      u.write.parquet(dir)
      val back = s.read.parquet(dir)
      assert(back.columns.toSeq == Seq("a", "b"))
      assert(back.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "one"), (2L, "two")))
    }
  }
}
