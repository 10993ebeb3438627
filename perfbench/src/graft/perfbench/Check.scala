package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Output checks of one workload run. Every operation (a crawl run, a
  * recrawl cycle, a query leaf) is attempted once and fails on an
  * exception or on any observation that differs from its expectation.
  *
  * Expectations come from `expected/<workload>.json`,
  * `{"<mode>": {"<seed>": {"<observation>": "<value>"}}}`, where mode is
  * "full" or "smoke" and "any" as mode or seed key matches every mode or
  * seed. An observation the file lacks is
  * compared with the reference the caller computes instead (the
  * single-threaded reference simulator for crawls); with neither, the
  * operation fails. Set PERFBENCH_RECORD=<dir> to write every
  * observation of the run to `<dir>/<workload>.json` in the same shape. */
final class Check(file: Path, mode: String, seed: Long) {
  private val mapper = new ObjectMapper()
  private val committed: Map[String, String] =
    if (!Files.exists(file)) Map.empty
    else {
      val root = mapper.readTree(file.toFile)
      for {
        m <- Seq(mode, "any")
        k <- Seq(seed.toString, "any")
        e <- root.path(m).path(k).fields().asScala
      } yield e.getKey -> e.getValue.asText()
    }.toMap
  private val recorded = mutable.LinkedHashMap.empty[String, String]
  private val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** One operation: run `body`, which returns its observations. */
  def op(label: String)(body: => Seq[Check.Obs]): Unit = {
    attempted += 1
    val bad = try {
      body.flatMap { o =>
        recorded(o.name) = o.actual
        committed.get(o.name).orElse(o.reference()) match {
          case Some(exp) if exp == o.actual => None
          case Some(exp) => Some(s"$label: ${o.name} = ${clip(o.actual)}, expected ${clip(exp)}")
          case None if o.required => Some(s"$label: ${o.name} has no expected value")
          case None => None
        }
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $label failed: $e")
        e.printStackTrace()
        Seq(s"$label: exception $e")
    }
    if (bad.nonEmpty) { failed += 1; problems ++= bad }
  }

  /** An operation that failed outside `op`. */
  def fail(msg: String): Unit = { attempted += 1; failed += 1; problems += msg }

  def ok: Boolean = failed == 0 && attempted > 0
  def errorRate: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted

  def report(): Unit = {
    problems.foreach(p => println(s"[perfbench] CHECK FAILED $p"))
    sys.env.get("PERFBENCH_RECORD").foreach { dir =>
      val out = java.nio.file.Paths.get(dir).resolve(file.getFileName)
      val root =
        if (Files.exists(out)) mapper.readTree(out.toFile).asInstanceOf[
          com.fasterxml.jackson.databind.node.ObjectNode]
        else mapper.createObjectNode()
      val m = Option(root.get(mode)).getOrElse(root.putObject(mode))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val s = m.putObject(seed.toString)
      recorded.foreach { case (k, v) => s.put(k, v) }
      Files.createDirectories(out.getParent)
      mapper.writerWithDefaultPrettyPrinter().writeValue(out.toFile, root)
    }
  }

  private def clip(s: String): String = if (s.length > 160) s.take(160) + "..." else s
}

object Check {
  /** An observation: its value, the reference to compare it with when
    * the expected file has no value for it, and whether it must be
    * compared at all (an optional one is only checked against the file). */
  final case class Obs(name: String, actual: String,
      reference: () => Option[String] = () => None, required: Boolean = true)
}

/** Order-independent digest of a DataFrame's rows: the row count and the
  * wrapping sum of a 64-bit hash of each row's UnsafeRow bytes. It is
  * computed on executors in the same pass that materializes the rows
  * (`queryExecution.toRdd`, the action the repo's analytics bench uses),
  * so a timed pass and its check are one job. */
object Digest {
  def of(df: DataFrame): String = {
    val schema = df.schema
    val (n, sum) = df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var s = 0L
      rows.foreach { r =>
        val u = proj(r)
        val lo = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42)
        val hi = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, lo)
        s += (hi.toLong << 32) | (lo & 0xffffffffL)
        n += 1
      }
      Iterator((n, s))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    s"$n:$sum"
  }

  /** Digest of a set of 64-bit keys, in the same count:sum form. */
  def ofKeys(keys: Iterable[Long]): String = s"${keys.size}:${keys.sum}"
}
