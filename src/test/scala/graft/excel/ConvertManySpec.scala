package graft.excel

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ExcelToParquet
import graft.sources.excel.{XlsbWriter, XlsxWriter}
import graft.sources.excel.XlsxWriter._

class ConvertManySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("convertMany fans out mixed xlsx/xlsb jobs and reports per-file results") {
    val dir = Files.createTempDirectory("many")
    def fixture(n: Int) = Seq(Sheet.dense("s",
      Seq(Some(XShared("id")), Some(XShared("v"))) +:
        (1 to n).map(i => Seq(Some(XNum(i)), Some(XNum(i * 2))))))
    val jobs = (1 to 4).map { i =>
      val in = dir.resolve(s"f$i.${if (i % 2 == 0) "xlsb" else "xlsx"}").toString
      if (i % 2 == 0) XlsbWriter.write(in, fixture(i * 10))
      else XlsxWriter.write(in, fixture(i * 10))
      ExcelToParquet.Options(in, dir.resolve(s"out$i.parquet").toString)
    } :+ ExcelToParquet.Options(dir.resolve("missing.xlsx").toString,
      dir.resolve("outX.parquet").toString)
    val empty = Files.createFile(dir.resolve("empty.xlsx")).toString
    val allJobs = jobs :+ ExcelToParquet.Options(empty, dir.resolve("outE.parquet").toString)

    val results = ExcelToParquet.convertMany(spark, allJobs, parallelism = 4).toMap
    (1 to 4).foreach { i =>
      assert(results(jobs(i - 1).input) == Right(i * 10L))
    }
    assert(results(jobs(4).input).isLeft) // missing file -> error, not crash
    // a zero-byte workbook -> an error naming the exception class
    val err = results(empty).swap.toOption
    assert(err.exists(e => e != null && e.matches("""(?s)[\w.$]+(: .*)?""")), err)
  }

  test("convertManyIncremental skips unchanged inputs and re-runs changed ones") {
    val dir = Files.createTempDirectory("incr")
    def fixture(n: Int) = Seq(Sheet.dense("s",
      Seq(Some(XShared("id")), Some(XShared("v"))) +:
        (1 to n).map(i => Seq(Some(XNum(i)), Some(XNum(i * 2))))))
    val jobs = (1 to 3).map { i =>
      val in = dir.resolve(s"f$i.xlsx").toString
      XlsxWriter.write(in, fixture(i * 5))
      ExcelToParquet.Options(in, dir.resolve(s"out$i.parquet").toString)
    }
    val manifest = dir.resolve("manifest.parquet").toString

    // first run: everything converts, nothing skipped
    val (r1, s1) = ExcelToParquet.convertManyIncremental(spark, jobs, manifest, 2)
    assert(s1.isEmpty)
    assert(r1.toMap.values.toSeq.collect { case Right(n) => n }.sorted == Seq(5L, 10L, 15L))

    // second run, nothing changed: everything skips, nothing converts
    val (r2, s2) = ExcelToParquet.convertManyIncremental(spark, jobs, manifest, 2)
    assert(r2.isEmpty)
    assert(s2.toSet == jobs.map(_.input).toSet)

    // grow one input (size change => new signature): only it re-runs
    XlsxWriter.write(jobs.head.input, fixture(7))
    val (r3, s3) = ExcelToParquet.convertManyIncremental(spark, jobs, manifest, 2)
    assert(r3.toMap == Map(jobs.head.input -> Right(7L)))
    assert(s3.toSet == jobs.tail.map(_.input).toSet)

    // manifest audit log carries one row per input with current rows
    val m = spark.read.parquet(manifest).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(m == Map(jobs(0).input -> 7L, jobs(1).input -> 10L, jobs(2).input -> 15L))

    // a new input joins the batch later: only it converts
    val in4 = dir.resolve("f4.xlsx").toString
    XlsxWriter.write(in4, fixture(2))
    val job4 = ExcelToParquet.Options(in4, dir.resolve("out4.parquet").toString)
    val (r4, s4) = ExcelToParquet.convertManyIncremental(spark, jobs :+ job4, manifest, 2)
    assert(r4.toMap == Map(in4 -> Right(2L)))
    assert(s4.size == 3)
  }

  test("convertManyIncremental finishes a manifest swap a crash interrupted") {
    val dir = Files.createTempDirectory("incr_crash")
    val jobs = (1 to 2).map { i =>
      val in = dir.resolve(s"f$i.xlsx").toString
      XlsxWriter.write(in, Seq(Sheet.dense("s",
        Seq(Some(XShared("id"))) +: (1 to i).map(k => Seq(Some(XNum(k)))))))
      ExcelToParquet.Options(in, dir.resolve(s"out$i.parquet").toString)
    }
    val manifest = dir.resolve("manifest.parquet")
    val (r1, _) = ExcelToParquet.convertManyIncremental(spark, jobs, manifest.toString, 2)
    assert(r1.size == 2)

    // the state a crash between setting the manifest aside and moving the
    // committed tmp into place leaves: no manifest, a committed tmp
    val tmp = dir.resolve("manifest.parquet.graft-tmp")
    Files.move(manifest, tmp)
    assert(Files.exists(tmp.resolve("_SUCCESS")))

    val (r2, s2) = ExcelToParquet.convertManyIncremental(spark, jobs, manifest.toString, 2)
    assert(r2.isEmpty)
    assert(s2.toSet == jobs.map(_.input).toSet)
    assert(Files.exists(manifest.resolve("_SUCCESS")) && !Files.exists(tmp))
  }
}
