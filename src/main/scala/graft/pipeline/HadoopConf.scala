package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession
import java.net.URI

/** A lean Hadoop configuration for every task of a session.
  *
  * A Hadoop `Configuration` keeps, per key, the array of resource names the
  * key was loaded from (`updatingResource`), and `Configuration.write`
  * gzips each array on its own. Each write task decodes a
  * `SerializableConfiguration` (in `WriteJobDescription` and
  * `BasicWriteJobStatsTracker`), and each scan broadcasts one, so those
  * ~1,100 arrays dominate the decode: 113 KB and ~5 MB of allocation per
  * decode against 68 KB and ~0.9 MB without them (Hadoop 3.4.2). Only
  * `getPropertySources` and XML dumps read the arrays; no value does.
  *
  * [[slim]] clears them on `sparkContext.hadoopConfiguration`, which
  * `sessionState.newHadoopConf()` copies, so each query's conf inherits
  * the lean state. Keys and values stay as they are.
  */
object HadoopConf {

  /** Clears the source arrays of the session's Hadoop configuration. Call
    * it once, right after the session starts.
    */
  def slim(spark: SparkSession): Unit = slim(spark.sparkContext.hadoopConfiguration, "updatingResource")

  /** Clears the map held in `conf`'s private field `field`. First the
    * FileSystem services load: in a cold JVM the first FileSystem lookup
    * loads `DistributedFileSystem`, whose `HdfsConfiguration` adds default
    * resources, and `Configuration.addDefaultResource` reloads every
    * registered conf, which brings the arrays back. Then `size()` forces the
    * (re)load, and only then is the map cleared. It is cleared, not nulled,
    * because `Configuration.set` writes into it. If anything fails, the conf
    * stays as it is: a run never fails for this.
    */
  private[pipeline] def slim(conf: Configuration, field: String): Unit =
    try {
      FileSystem.get(URI.create("file:///"), conf)
      conf.size()
      val f = classOf[Configuration].getDeclaredField(field)
      f.setAccessible(true)
      f.get(conf) match {
        case sources: java.util.Map[_, _] => conf.synchronized(sources.clear())
        case _ =>
      }
    } catch {
      case _: ReflectiveOperationException | _: RuntimeException | _: java.io.IOException =>
    }
}
