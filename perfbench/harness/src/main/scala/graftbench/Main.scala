package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, JsonText}

/** Benchmark harness entry point. Two modes:
  *
  *   - `gen-corpus --seed N --dir D`: write the seeded workbook corpus;
  *   - `run --workload W ...`: set up a session the way the program
  *     ships it (`GraftSession.builder` at local[cores]), warm it up on
  *     inputs of another seed, run the workload for `--seconds`, and
  *     write every measurement and correctness outcome to `--out` as
  *     JSON. With `--trace 1` it also attaches the listeners, records
  *     spans, writes the span sidecar and reports per-layer metrics.
  */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    def int(k: String): Int = apply(k).toInt
  }

  def parse(a: Array[String]): (String, Args) = {
    val kv = a.drop(1).grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap
    (a.head, Args(kv))
  }

  def main(argv: Array[String]): Unit = {
    val (mode, a) = parse(argv)
    mode match {
      case "gen-corpus" => Corpus.generate(a("seed").toLong, a("dir"), a("scale").toDouble)
      case "run" => run(a)
      case other => sys.error(s"unknown mode $other")
    }
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Percentile by linear interpolation between order statistics. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return Double.NaN
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def session(cores: Int): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", math.max(cores, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(a: Args): Unit = {
    val cores = a.int("cores")
    val w: Workload = a("workload") match {
      case "convert_corpus" => new ConvertCorpus(a)
      case "curate_index_serve" => new CurateIndexServe(a)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up = JVM start -> session built -> warm-up done. The session
    // build (plus one trivial job) is repeated SetupCycles times and its
    // median taken; the workload's warm-up runs once, on inputs of another
    // seed, so the JIT is warm but no timed input has been seen.
    val jvmS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val builds = (1 to SetupCycles).map { i =>
      val t0 = System.nanoTime()
      val s = session(cores)
      s.range(1000000).selectExpr("sum(id)").collect()
      val t = (System.nanoTime() - t0) / 1e9
      if (i < SetupCycles) s.stop()
      t
    }
    val tw = System.nanoTime()
    w.warmup(SparkSession.active)
    val warmS = (System.nanoTime() - tw) / 1e9
    val spark = SparkSession.active
    val tracer = new Tracer(spark, a("trace") == "1")
    val ctx = new Ctx(spark, a, tracer, cores)
    w.run(ctx)
    tracer.stop()

    // retained heap: what stays live once the run is over and a full
    // collection has run (results, caches and residue the ops left)
    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val loop = tracer.ops.filter(o => w.loopKinds.contains(o.kind))
    val good = loop.filter(_.ok)
    val walls = good.map(_.wallS).toSeq
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> (jvmS + median(builds) + warmS),
      "op_p50_s" -> median(walls),
      "op_p90_s" -> pct(walls, 0.9),
      "pipeline_s" -> ctx.pipelineS,
      "units_per_s" -> good.map(_.units).sum / walls.sum,
      "retained_heap_mb" -> heapMb)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (tracer.enabled) {
      layers("session.build_s") = median(builds)
      layers("session.warmup_s") = warmS
      Layers.common(ctx, w.loopKinds, layers)
      layers ++= ctx.layers
      Layers.writeSidecar(a("sidecar"), tracer)
    }

    val counted = tracer.ops.filter(_.kind != "probe")
    val failedOps = counted.count(!_.ok)
    val sb = new StringBuilder("{")
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    def obj(m: collection.Map[String, Double]): String =
      m.map { case (k, v) => s"${JsonText.quote(k)}:${num(v)}" }.mkString("{", ",", "}")
    sb ++= s""""attempted":${counted.size},"failed":$failedOps,"""
    sb ++= s""""loop_ops":${loop.size},"""
    sb ++= s""""errors":${ctx.errors.map(JsonText.quote).mkString("[", ",", "]")},"""
    sb ++= s""""metrics":${obj(e2e)},"layers":${obj(layers)},"""
    sb ++= s""""oracle":${ctx.oracle.map { o =>
      s"""{"name":${JsonText.quote(o.name)},"sql":${JsonText.quote(o.sql)},""" +
        s""""tables":${JsonText.quote(o.tables)},"dump":${JsonText.quote(o.dump)},"ops":${o.ops}}"""
    }.mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(a("out")), sb.toString)
    spark.stop()
  }

  val SetupCycles = 3
}

/** An output the Python side compares against DuckDB running `sql`
  * over the parquet tables in `tables`; a mismatch fails `ops` ops.
  */
final case class OracleCheck(name: String, sql: String, tables: String, dump: String, ops: Int)

/** Per-run state shared by a workload and the harness. */
final class Ctx(val spark: SparkSession, val a: Main.Args, val tracer: Tracer, val cores: Int) {
  val seed: Long = a("seed").toLong
  val seconds: Double = a("seconds").toDouble
  val scratch: Path = Paths.get(System.getProperty("java.io.tmpdir"))
  val corrupt: String = a.get("corrupt").getOrElse("")
  val errors = mutable.ArrayBuffer.empty[String]
  val oracle = mutable.ArrayBuffer.empty[OracleCheck]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var pipelineS: Double = Double.NaN

  def traced: Boolean = tracer.enabled

  /** Loop ops alternate traced/untraced in a traced run, so the run can
    * compare the two and report its own overhead.
    */
  def loopTraced(i: Int): Boolean = i % 2 == 0

  def fail(msg: String): Boolean = { errors += msg; false }

  /** Dump `rows` (with `df`'s schema) for the oracle comparison. */
  def dump(name: String, df: DataFrame, rows: Array[Row], sql: String, tables: String,
      ops: Int): Unit = {
    val out = scratch.resolve("dumps").resolve(name).toString
    val kept = if (corrupt == name) rows.dropRight(1) else rows
    spark.createDataFrame(java.util.Arrays.asList(kept: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(out)
    oracle += OracleCheck(name, sql, tables, out, ops)
  }

  def elapsedSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Closed-loop condition: issue at least `minN` ops, then keep going
    * while the next op (at the mean so far) is expected to end within
    * `--seconds` of `t0`.
    */
  def more(n: Int, minN: Int, t0: Long): Boolean =
    n < minN || elapsedSince(t0) * (n + 1) / n <= seconds
}

/** One workload: its warm-up (on inputs of another seed) and its timed
  * run. `loopKinds` names the ops the closed loop issues; the latency
  * metrics are taken over those.
  */
trait Workload {
  def loopKinds: Set[String]
  def warmup(spark: SparkSession): Unit
  def run(ctx: Ctx): Unit
}

object Util {
  def rowsHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.foreach { r =>
      md.update(r.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteRec(_)) finally s.close()
    }
    Files.delete(p)
  }

  def parquetBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(f => f.toString.endsWith(".parquet")).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }
}
