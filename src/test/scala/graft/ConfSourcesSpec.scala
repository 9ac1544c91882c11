package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** Round-21 #5: GraftBootstrap strips per-property SOURCE attribution
  * from the root Hadoop conf (the gzip-per-property cost of every
  * per-job SerializableConfiguration broadcast). The strip must drop
  * ONLY the attribution — every property value, and the write/read
  * round-trip Spark's task path depends on, must be intact. */
class ConfSourcesSpec extends AnyFunSuite with SparkFixture {

  test("setSessionConfs drops source attribution but no property values") {
    GraftBootstrap.setSessionConfs(spark)
    val root = spark.sparkContext.hadoopConfiguration

    // a stock conf attributes its defaults; the stripped root must not
    val stock = new Configuration(true)
    assert(stock.getPropertySources("fs.defaultFS") != null,
      "control: a stock Configuration attributes fs.defaultFS to a source")
    assert(root.getPropertySources("fs.defaultFS") == null,
      "stripped root must carry no source attribution")

    // values are untouched — the defaults and our own bindings resolve
    assert(root.get("fs.defaultFS") != null)
    assert(root.get("fs.file.impl") ===
      classOf[graft.catalog.GraftLocalFileSystem].getName)

    // derived confs (what every scan/write serializes) inherit the
    // stripped map and round-trip losslessly through write/readFields
    val derived = spark.sessionState.newHadoopConf()
    val bos = new ByteArrayOutputStream()
    derived.write(new DataOutputStream(bos))
    val back = new Configuration(false)
    back.readFields(new DataInputStream(new ByteArrayInputStream(bos.toByteArray)))
    assert(back.get("fs.defaultFS") === derived.get("fs.defaultFS"))
    assert(back.get("fs.file.impl") === derived.get("fs.file.impl"))
    assert(back.size() === derived.size(),
      "serialization must preserve every property")
  }

  test("ensure leaves the extension's optimizer rule as the only copy") {
    // the shared session injects ResolveStrandedTableReferences through
    // GraftExtensions; the imperative twin must not add a second copy
    assert(spark.conf.get("spark.sql.extensions").contains("graft.GraftExtensions"))
    GraftBootstrap.setSessionConfs(spark)
    GraftBootstrap.ensure(spark, sf0001)
    assert(!spark.experimental.extraOptimizations.contains(
      org.apache.spark.sql.graft.ResolveStrandedTableReferences))
  }
}
