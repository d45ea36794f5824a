package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite
import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import scala.io.Source
import scala.jdk.CollectionConverters._

/** What a task decodes of a Hadoop configuration. */
object ConfStats {
  def values(conf: Configuration): Map[String, String] =
    conf.asScala.map(e => e.getKey -> e.getValue).toMap

  /** How many keys still carry an array of source names. */
  def sourceArrays(conf: Configuration): Int =
    conf.asScala.count(e => conf.getPropertySources(e.getKey) != null)

  /** The size of `conf` as a task binary carries it. */
  def serializedBytes(conf: Configuration): Int = {
    val bytes = new ByteArrayOutputStream
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(conf))
    out.close()
    bytes.size
  }
}

/** Runs in a fresh JVM: a session shaped like `RunPipeline`'s, then
  * [[HadoopConf.slim]], then one committed [[Lineage.run]] over a small
  * synthetic corpus, whose writes are the first FileSystem lookups of the
  * JVM. Then prints how many source arrays the session's Hadoop conf holds
  * (the one every query's conf copies) and the serialized size of the conf
  * a query gets: `sources=<n> bytes=<m>`.
  *
  *   ColdSlimRun <lineageRoot>
  */
object ColdSlimRun {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-cold-slim")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    HadoopConf.slim(spark)
    Lineage.run(SynthCorpus.generate(spark, 200, partitions = 4), new ParquetSnapshotStore(args(0)), "cold")
    val arrays = ConfStats.sourceArrays(spark.sparkContext.hadoopConfiguration)
    println(s"sources=$arrays bytes=${ConfStats.serializedBytes(spark.sessionState.newHadoopConf())}")
    spark.stop()
  }
}

class HadoopConfSpec extends AnyFunSuite {
  import ConfStats._

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** A copy of the session's conf with its source arrays, as a query gets it
    * before any slim.
    */
  private def fullCopy(): Configuration = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.reloadConfiguration()
    conf.size()
    conf
  }

  test("slim clears the source arrays that every query's conf copies and keeps each key and value") {
    val base = spark.sparkContext.hadoopConfiguration
    base.reloadConfiguration() // the conf as the session started, arrays included
    val before = spark.sessionState.newHadoopConf()
    assert(sourceArrays(base) > 1000)
    HadoopConf.slim(spark)
    assert(sourceArrays(base) == 0)
    val after = spark.sessionState.newHadoopConf()
    assert(values(after) == values(before))
    val (full, lean) = (serializedBytes(before), serializedBytes(after))
    assert(lean <= full * 0.7, s"serialized conf $full -> $lean bytes")
  }

  test("slim is idempotent") {
    val conf = fullCopy()
    HadoopConf.slim(conf, "updatingResource")
    val (kv, bytes) = (values(conf), serializedBytes(conf))
    HadoopConf.slim(conf, "updatingResource")
    assert(values(conf) == kv)
    assert(serializedBytes(conf) == bytes)
    assert(sourceArrays(conf) == 0)
  }

  test("a failed field lookup leaves the conf as it is") {
    val conf = fullCopy()
    val (kv, arrays, bytes) = (values(conf), sourceArrays(conf), serializedBytes(conf))
    HadoopConf.slim(conf, "noSuchField")
    assert(values(conf) == kv)
    assert(sourceArrays(conf) == arrays)
    assert(serializedBytes(conf) == bytes)
  }

  test("a cold JVM keeps the lean conf through a committed run") {
    val root = Files.createTempDirectory("graft-cold-slim")
    val java = s"${System.getProperty("java.home")}/bin/java"
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(java, "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), ColdSlimRun.getClass.getName.stripSuffix("$"), root.toString)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor(5, TimeUnit.MINUTES) && proc.exitValue == 0, out.takeRight(40).mkString("\n"))
    val Line = """sources=(\d+) bytes=(\d+)""".r
    val (arrays, bytes) = out.collectFirst { case Line(n, b) => (n.toInt, b.toInt) }
      .getOrElse(fail(out.takeRight(40).mkString("\n")))
    assert(arrays <= 5, s"$arrays source arrays after the run")
    assert(bytes < 80 * 1024, s"$bytes bytes after the run")
  }
}
