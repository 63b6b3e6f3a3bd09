package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** What a run shares across its workload: the session, the tracer, the
  * working directories, and the tally of operations, failures and
  * latency samples.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val cores: Int,
                val seed: Long, val work: Path, val inputs: Path) {
  var attempted = 0
  var failed = 0
  val errors = ArrayBuffer[String]()
  /** Latency samples per operation type, from recorded units only. */
  val samples = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  var recording = false

  def dir(name: String): String = work.resolve(name).toString

  /** Times one operation. A throw counts as a failed operation and
    * yields None; the loop carries on with the next operation.
    */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = body
      if (recording)
        samples.getOrElseUpdate(kind, ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
      Some(out)
    } catch {
      case e: Exception =>
        failed += 1
        errors += s"$kind threw: $e"
        System.err.println(s"[perfbench] $kind threw")
        e.printStackTrace()
        None
    }
  }

  /** Runs a correctness check outside the timed window. Problems fail
    * the operation they check, once.
    */
  def check(what: String)(problems: => List[String]): Unit = {
    val found =
      try problems
      catch { case e: Exception => List(s"check raised $e") }
    if (found.nonEmpty) {
      failed += 1
      errors ++= found.map(p => s"$what: $p")
      found.foreach(p => System.err.println(s"[perfbench] check failed: $what: $p"))
    }
  }

  /** Persists a frame the benchmark itself holds, to feed several
    * calls and its checks. Its blocks are registered before they exist
    * and left out of the cache metrics, which count only what graft
    * caches.
    */
  def persistOwn(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(p.asInstanceOf[classic.Dataset[_]])
      .foreach(c => tracer.blocks.ignore(c.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id))
    p
  }

  /** Data files under `path`, by relative name. */
  def dataFiles(path: String): Set[String] = {
    val p = java.nio.file.Paths.get(path)
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try {
        val out = Set.newBuilder[String]
        s.filter(f => Files.isRegularFile(f) && isData(f))
          .forEach(f => out += p.relativize(f).toString)
        out.result()
      } finally s.close()
    }
  }

  /** Bytes of the data files under `path`. */
  def dirBytes(path: String): Long =
    dataFiles(path).iterator.map(f => Files.size(java.nio.file.Paths.get(path, f))).sum

  private def isData(f: Path): Boolean = {
    val n = f.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }
}

/** Per-seed input cache: a directory is written once, then reused. */
object Inputs {
  def cached(dir: Path)(write: String => Unit): Unit =
    if (!Files.exists(dir.resolve("_SUCCESS"))) write(dir.toString)
}

/** One workload: untimed input preparation, repeatable set-up, and the
  * unit of work the closed loop repeats.
  */
trait Workload {
  /** Input items one unit processes (docs, or operations). */
  def itemsPerUnit: Long
  def itemName: String
  /** Nominal seconds of one unit on a 4-vCPU machine: a run of
    * `--seconds` records ceil(seconds / unitSeconds) units.
    */
  def unitSeconds: Double
  def prepare(): Unit
  def setup(): Unit
  def unit(i: Int): Unit
  def storedBytesRatio: Double
  def inputSizes: Seq[(String, Long)]
}
