package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite
import graft.io.HadoopConfPlugin

/** `HadoopConfPlugin` drops a Hadoop conf's per-property source records
  * and nothing else. The shared test session is not built through
  * `HarnessConf`, so the plugin is never installed here; these tests
  * call its functions directly.
  */
class HadoopConfPluginSpec extends AnyFunSuite {

  private def defaults(): Configuration = {
    HadoopConfPlugin.registerDefaultResources()
    val c = new Configuration()
    c.set("graft.test.key", "set in the test")
    c
  }

  private def pairs(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private def serialized(c: Configuration): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(c))
    out.close()
    bytes.toByteArray
  }

  private def deserialized(b: Array[Byte]): Configuration =
    new ObjectInputStream(new ByteArrayInputStream(b)).readObject()
      .asInstanceOf[SerializableConfiguration].value

  test("dropping the sources changes no key or value") {
    val kept = defaults()
    val stripped = defaults()
    val key = "hadoop.tmp.dir"
    assert(stripped.getPropertySources(key) != null)
    assert(HadoopConfPlugin.dropSources(stripped))
    // the mapred and yarn defaults are loaded, not just core-default.xml
    assert(kept.get("mapreduce.job.maps") != null && kept.size() > 1000, kept.size())
    assert(pairs(stripped) == pairs(kept))
    assert(pairs(kept).keys.forall(k => stripped.get(k) == kept.get(k)))
    assert(stripped.getPropertySources(key) == null)
  }

  test("a stripped conf round-trips through SerializableConfiguration in at most 70% of the bytes") {
    val kept = defaults()
    val stripped = defaults()
    assert(HadoopConfPlugin.dropSources(stripped))
    val before = serialized(kept)
    val after = serialized(stripped)
    assert(pairs(deserialized(after)) == pairs(stripped))
    assert(pairs(deserialized(before)) == pairs(kept))
    assert(after.length <= 0.7 * before.length, s"${after.length} bytes against ${before.length}")
  }
}
