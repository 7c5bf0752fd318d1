package graft.io

import java.util.{Collections, Map => JMap}
import scala.util.Try
import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}

/** A Spark plugin that drops the per-property source records of the
  * driver's Hadoop configuration, so every copy Spark ships to a task is
  * small and quick to (de)serialize. Keys and values are untouched.
  *
  * A `Configuration` remembers, for every property, which resources set
  * it (`getPropertySources`), and `Configuration.write` GZIPs that
  * record for every property. With the default resources loaded (about
  * 1,100 properties) a serialized copy is 113 KB, 5–6 ms to write and
  * 4–5 ms to read. Spark serializes one with every file scan's
  * broadcast, every state-store RDD and every write task, so a streaming
  * micro-batch pays it several times.
  *
  * Install it with `spark.plugins` (`graft.HarnessConf` does). Its
  * driver init first lets `JobConf` and `HdfsConfiguration` register
  * their default resources: a default resource registered later reloads
  * every live `Configuration` and brings the records back. It then clears
  * the records of `sc.hadoopConfiguration`; the confs Spark copies from
  * it inherit the empty record.
  */
class HadoopConfPlugin extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = new DriverPlugin {
    override def init(sc: SparkContext, ctx: PluginContext): JMap[String, String] = {
      HadoopConfPlugin.registerDefaultResources()
      HadoopConfPlugin.dropSources(sc.hadoopConfiguration)
      Collections.emptyMap()
    }
  }

  override def executorPlugin(): ExecutorPlugin = null
}

object HadoopConfPlugin {

  /** Initializes the Hadoop classes that register default resources when
    * first loaded (`mapred-`, `yarn-` and `hdfs-` defaults and sites), so
    * that none registers one after the records are dropped. A class
    * missing from the classpath registers nothing and is skipped.
    */
  def registerDefaultResources(): Unit =
    Seq("org.apache.hadoop.mapred.JobConf", "org.apache.hadoop.hdfs.HdfsConfiguration")
      .foreach(c => Try(Class.forName(c, true, classOf[Configuration].getClassLoader)))

  // Hadoop 3.4's private map from property name to the resources that set it
  private lazy val sourcesField = Try {
    val f = classOf[Configuration].getDeclaredField("updatingResource")
    f.setAccessible(true)
    f
  }.toOption

  /** Loads `conf`'s properties and drops their source records. Returns
    * false, leaving `conf` as it is, when this Hadoop version keeps no
    * such field.
    */
  def dropSources(conf: Configuration): Boolean = sourcesField.exists { f =>
    conf.synchronized {
      conf.size() // loads the resources, recording their sources
      f.get(conf) match {
        case m: JMap[_, _] => m.clear(); true
        case _ => false
      }
    }
  }
}
