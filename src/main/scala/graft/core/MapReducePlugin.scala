package graft.core

import scala.jdk.CollectionConverters._

import graft.functions.LetterTokens

/** Runtime-loadable MapReduce application — the reference's `.so`
  * plugin ABI (reference: main/mrworker.go:34-51 resolves `Map` and
  * `Reduce` symbols from a shared object at run time;
  * mrsequential.go:93-110 same) mapped to the JVM's standard runtime
  * discovery mechanism, `java.util.ServiceLoader`:
  *
  *  - author a class implementing [[MapReducePlugin]];
  *  - list it in `META-INF/services/graft.core.MapReducePlugin`;
  *  - ship the jar with `spark-submit --jars app-plugin.jar`.
  *
  * [[MapReducePlugin.load]] then resolves it BY NAME on the driver
  * without compile-time linkage — the run-time equivalent of
  * `go build -buildmode=plugin` + `plugin.Lookup`. The plugin object
  * is `Serializable`, so its closures ship to executors like any
  * user function (the `--jars` classpath makes the class resolvable
  * there on deserialization).
  */
trait MapReducePlugin extends Serializable {
  /** The lookup key — plays the role of the reference's plugin
    * filename argument (mrworker.go:22-26).
    */
  def name: String
  def mapf(key: String, value: String): IterableOnce[KV]
  def reducef(key: String, values: Seq[String]): String
}

object MapReducePlugin {
  /** Resolve a plugin by name from the classpath (driver side).
    * Unknown names fail fast, listing what WAS discoverable — the
    * reference's `log.Fatalf("cannot load plugin")` with a better
    * message.
    */
  def load(name: String): MapReducePlugin = {
    val it = java.util.ServiceLoader.load(classOf[MapReducePlugin]).iterator()
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val p = it.next()
      if (p.name == name) return p
      seen += p.name
    }
    throw new IllegalArgumentException(
      s"no MapReducePlugin named '$name' on the classpath; found: [${seen.mkString(", ")}]")
  }
}

/** The reference's wc app (mrapps/wc.go:21-44) as a bundled plugin —
  * doubles as the ServiceLoader registration example.
  */
final class WordCountPlugin extends MapReducePlugin {
  override def name: String = "wc"
  override def mapf(key: String, value: String): IterableOnce[KV] =
    LetterTokens(value).map(w => KV(w, "1"))
  override def reducef(key: String, values: Seq[String]): String =
    values.size.toString
}

/** The indexer app (mrapps/indexer.go:20-39) as a second plugin, so
  * name-based lookup is exercised over a registry of more than one.
  */
final class IndexerPlugin extends MapReducePlugin {
  override def name: String = "indexer"
  override def mapf(key: String, value: String): IterableOnce[KV] =
    LetterTokens.distinct(value).iterator().asScala.map(w => KV(w, key))
  override def reducef(key: String, values: Seq[String]): String =
    s"${values.size} ${values.sorted.mkString(",")}"
}
