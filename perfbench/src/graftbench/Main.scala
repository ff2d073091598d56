package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Benchmark entry point: one workload, one seed, one run.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <scratch dir> --out <result json>
  *
  * Prints a human-readable report on stdout and writes the result object
  * (metrics, correctness, spans) to `--out`. `perfbench/run.py` builds
  * and launches this and prints the contract's last line. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads.byName.getOrElse(a.workload,
      throw new IllegalArgumentException(
        s"unknown workload ${a.workload}; one of ${Workloads.byName.keys.mkString(", ")}"))
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.Sessions.local(cpus.toString, appName = "graftbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rep = new Report
    try new Runner(spark, a, rep).run(wl, sessionS)
    finally spark.stop()
    Files.write(a.out, rep.json.getBytes("UTF-8"))
  }
}

/** Collected results of one run. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notApplicable = mutable.LinkedHashSet.empty[String]
  val notes = mutable.ArrayBuffer.empty[String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var spansJson = "[]"

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def na(name: String, unit: String): Unit = { metrics(name) = (0.0, unit); notApplicable += name }
  def fail(why: String): Unit = failures += why

  private def q(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  private def num(d: Double) =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${q(k)}: {${q("value")}: ${num(v)}, ${q("unit")}: ${q(u)}}" }.mkString(", ")
    s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.size}, """ +
      s""""metrics": {$ms}, "not_applicable": [${notApplicable.map(q).mkString(", ")}], """ +
      s""""failures": [${failures.map(q).mkString(", ")}], "notes": [${notes.map(q).mkString(", ")}], """ +
      s""""spans": $spansJson}"""
  }
}
