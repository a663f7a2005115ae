package graft.excel

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ExcelToParquet
import graft.sources.excel.{XlsbWriter, XlsxWriter}
import graft.sources.excel.XlsxWriter._

/** `convert` returns the rows committed to its output, summed from the
  * part files' footers: the count must equal an independent read-back
  * in every input and write mode, and the conversion must start no job
  * after its write job ends.
  */
class ConvertCountSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir = Files.createTempDirectory("graft_convcount")

  private def table(n: Int): Seq[Seq[Option[XCell]]] =
    Seq(Some(XShared("id")), Some(XShared("v"))) +:
      (1 to n).map(i => Seq(Some(XNum(i)), Some(XStr(s"r$i"))))

  private def xlsx(name: String, rows: Seq[Seq[Option[XCell]]]): String = {
    val p = dir.resolve(name).toString
    XlsxWriter.write(p, Seq(Sheet.dense("S", rows)))
    p
  }

  /** Starts and ends, in bus order, of the jobs in one job group (so jobs
    * other suites leave running in the shared context do not count), and
    * the jobs whose stages wrote output files.
    */
  private final class JobLog(val group: String) extends SparkListener {
    val order = new ConcurrentLinkedQueue[(Boolean, Int)]()
    val writers: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
        e.stageIds.foreach(stageJob.put(_, e.jobId))
        order.add(true -> e.jobId)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (order.contains(true -> e.jobId)) order.add(false -> e.jobId)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.taskMetrics.outputMetrics.bytesWritten > 0)
        Option(stageJob.get(e.stageInfo.stageId)).foreach(writers.add(_))
  }

  /** Converts, checks the count against a read-back, and returns the
    * conversion's job log.
    */
  private def convertChecked(opts: ExcelToParquet.Options, expected: Long): JobLog = {
    val sc = spark.sparkContext
    val log = new JobLog(s"convert-count-${java.util.UUID.randomUUID}")
    sc.addSparkListener(log)
    val n = try {
      sc.setJobGroup(log.group, "ConvertCountSpec")
      val n = try ExcelToParquet.convert(spark, opts) finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      n
    } finally sc.removeSparkListener(log)
    assert(n == expected)
    assert(n == spark.read.parquet(opts.output).count())

    val events = log.order.asScala.toSeq
    val writeEnd = events.lastIndexWhere { case (start, id) => !start && log.writers.contains(id) }
    assert(writeEnd >= 0, s"no write job in $events")
    assert(!events.drop(writeEnd + 1).exists(_._1), s"job started after the write: $events")
    log
  }

  private def startedJobs(log: JobLog): Int = log.order.asScala.count(_._1)

  test("xlsx: the count equals the read-back, from one job") {
    val in = xlsx("plain.xlsx", table(500))
    val log = convertChecked(
      ExcelToParquet.Options(in, dir.resolve("plain.parquet").toString), 500)
    assert(startedJobs(log) == 1)
  }

  test("xlsb: the count equals the read-back, from one job") {
    val in = dir.resolve("plain.xlsb").toString
    XlsbWriter.write(in, Seq(Sheet.dense("S", table(300))))
    val log = convertChecked(
      ExcelToParquet.Options(in, dir.resolve("plainb.parquet").toString), 300)
    assert(startedJobs(log) == 1)
  }

  test("a header-only sheet writes an empty file and counts 0") {
    val in = xlsx("header.xlsx", table(0))
    val out = dir.resolve("header.parquet").toString
    val log = convertChecked(ExcelToParquet.Options(in, out), 0)
    assert(startedJobs(log) == 1)
    assert(spark.read.parquet(out).columns.toSeq == Seq("id", "v"))
  }

  test("skipRows: skipped leading rows are not counted") {
    val junk = (1 to 3).map(i => Seq(Some(XStr(s"junk$i")): Option[XCell]))
    val in = xlsx("skip.xlsx", junk ++ table(40))
    val log = convertChecked(ExcelToParquet.Options(in,
      dir.resolve("skip.parquet").toString, skipRows = 3), 40)
    assert(startedJobs(log) == 1)
  }

  test("sheetPartitions = 4: a split scan still writes in one job") {
    val in = xlsx("split.xlsx", table(4000))
    val log = convertChecked(ExcelToParquet.Options(in,
      dir.resolve("split.parquet").toString, sheetPartitions = 4), 4000)
    assert(startedJobs(log) == 1)
  }

  test("writePartitions = 3: the count sums every part file's footer") {
    val in = xlsx("par.xlsx", table(3000))
    val out = dir.resolve("par.parquet").toString
    convertChecked(ExcelToParquet.Options(in, out, writePartitions = 3), 3000)
    val parts = Files.list(Paths.get(out)).iterator.asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(parts == 3)
  }

  test("a directory input counts the rows of every workbook") {
    val d = Files.createDirectories(dir.resolve("many"))
    Seq("a" -> 3, "b" -> 4).foreach { case (name, n) =>
      XlsxWriter.write(d.resolve(s"$name.xlsx").toString, Seq(Sheet.dense("S", table(n))))
    }
    val log = convertChecked(
      ExcelToParquet.Options(d.toString, dir.resolve("many.parquet").toString), 7)
    assert(startedJobs(log) == 1)
  }
}
