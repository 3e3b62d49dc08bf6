package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** The reference engine's sole data type: a string key-value pair
  * (reference: mr/worker.go:19-22). A dataset in the reference is
  * `[]KeyValue` held in one worker's RAM; here it is a distributed,
  * spillable `Dataset[KV]` — strictly more general.
  */
final case class KV(key: String, value: String)

/** Spark-native re-expression of the reference's MapReduce programming
  * model (reference: mr/worker.go, mr/master.go). The reference's whole
  * control plane — task queue, phase barrier, straggler re-execution,
  * atomic output commit (master.go:111-127, 171-223; worker.go:141-157) —
  * is supplied by Spark's DAG scheduler, shuffle, task retry, speculation
  * and the DSv2 commit protocol; none of it is re-implemented here.
  * Backup tasks (F11) are `spark.speculation`, a scheduler conf fixed
  * when the context starts, so a job has no speculation option of its
  * own; the commit coordinator accepts one attempt's output, like the
  * reference's atomic rename.
  * File input and output are [[graft.sources.WholeFileSource]] (key =
  * path, value = contents) and [[graft.sources.KvTextSink]] (mr-out-r).
  *
  * Semantics preserved exactly (reference: worker.go:45, 78-98):
  *   - `mapf(key, value)` is called once per input record (for file
  *     inputs: key = file path, value = entire contents) and may emit
  *     0..n pairs.
  *   - `reducef(key, values)` is called once per distinct key with ALL
  *     values for that key; value order is explicitly UNSPECIFIED, as in
  *     the reference (map-task concatenation order) — deterministic apps
  *     must sort values themselves (reference: mrapps/indexer.go:37,
  *     mrapps/crash.go:48-52).
  *   - `nReduce` is the number of reduce tasks, as R is in the reference
  *     (mrmaster.go:23): the map output is hash-partitioned by key into
  *     exactly `nReduce` partitions, each reduced in place and returned
  *     as one output partition (one mr-out file).
  *
  * Scale notes: a job is ONE shuffle, as in the reference — scan → map
  * → partition by hash(key) % nReduce → sort → group → reduce. A map
  * task is one scan partition, and WholeFileSource packs many small
  * files into one (the paper's 16-64 MB splits); a record is still a
  * whole file, so for row-shaped data prefer graft.queries. The
  * grouping reuses that exchange, which also places the output, and a
  * shuffled row carries its key once. The reference has no combiner
  * (worker.go:78-94), so by default every map pair is shuffled;
  * `combine` adds the MR paper's (§4.3): each map task merges its
  * pairs per key before the one exchange, so a hot key ships about one
  * value per map task. `combine` must be associative and commutative,
  * and `reducef` must accept combined values in place of raw ones. One
  * reduce task sorts one partition (spilling as needed) and holds one
  * key's values at a time, so `nReduce` sizes the reduce side as R
  * does: raise it with the data.
  */
object MapReduceJob {

  /** Mirrors worker.go:66-100 (sort → group adjacent → reduce once per
    * key). The one exchange hash-partitions the pairs by key into
    * `nReduce` partitions (reference ihash%R, worker.go:28-32 — Murmur3
    * instead of FNV, identical grouping semantics), and the grouping
    * runs inside them: output partition r holds exactly the keys with
    * pmod(hash(key), nReduce) = r. With `combine`, each map task first
    * folds every key's values into one with `combine(k, Seq(acc, v))`.
    */
  def run(
      records: Dataset[KV],
      mapf: (String, String) => IterableOnce[KV],
      reducef: (String, Seq[String]) => String,
      nReduce: Int = 10,
      combine: Option[(String, Seq[String]) => String] = None): Dataset[KV] = {
    val spark = records.sparkSession
    import spark.implicits._
    val mapped = combine match {
      case None => records.flatMap(r => mapf(r.key, r.value))
      case Some(c) => records.mapPartitions(it => combined(it.flatMap(r => mapf(r.key, r.value)), c))
    }
    mapped
      .repartition(nReduce, col("key"))
      .groupBy(col("key"))
      .as[String, KV]
      .mapGroups((k, it) => KV(k, reducef(k, it.map(_.value).toSeq)))
  }

  /** Keys a map task's combiner holds before it emits them and starts
    * over, so its memory stays bounded on any vocabulary.
    */
  private[graft] val CombineKeys = 1 << 16

  private def combined(pairs: Iterator[KV], c: (String, Seq[String]) => String): Iterator[KV] = {
    var acc = new java.util.HashMap[String, String]
    def flush(): Iterator[KV] = {
      val full = acc
      acc = new java.util.HashMap[String, String]
      full.entrySet().iterator().asScala.map(e => KV(e.getKey, e.getValue))
    }
    pairs.flatMap { kv =>
      val prev = acc.get(kv.key)
      acc.put(kv.key, if (prev == null) kv.value else c(kv.key, Seq(prev, kv.value)))
      if (acc.size >= CombineKeys) flush() else Iterator.empty
    } ++ flush()
  }

  /** Run a ServiceLoader-discovered plugin by name — the reference's
    * `mrworker wc.so pg-*.txt` entry point (mrworker.go:22-51): app
    * resolved at run time, no compile-time linkage. See
    * [[MapReducePlugin]] for the `--jars` registration contract.
    */
  def runPlugin(
      records: Dataset[KV],
      pluginName: String,
      nReduce: Int = 10): Dataset[KV] = {
    val p = MapReducePlugin.load(pluginName)
    run(records, p.mapf, p.reducef, nReduce)
  }
}
