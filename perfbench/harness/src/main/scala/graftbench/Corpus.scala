package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

import graft.sources.excel.{XlsbWriter, XlsxWriter}
import graft.sources.excel.XlsxWriter._

/** The seeded workbook corpus of the `convert_corpus` workload and the
  * model its conversions are checked against.
  *
  * Every workbook has the same eight header names and mixes shared
  * strings, inline strings, numbers (integral and exact binary
  * fractions), booleans, error cells, present-but-empty cells and absent
  * cells. The model is the expected text of every data cell, derived
  * here from the cell variants without calling the program's formatters:
  * integral numbers print without a fraction, dyadic fractions as their
  * exact decimal, booleans as true/false, errors by their calamine name,
  * empty cells as "" and absent cells as null.
  */
object Corpus {
  val Header: Seq[String] = Seq("id", "name", "qty", "price", "flag", "note", "code", "ratio")
  val ManyFiles = 16
  val ManyRows = 2000
  val LargeRows = 40000

  final case class Book(file: String, rows: Int, cells: Long, colHashes: Seq[BigInt])

  private val ErrText = Map("#DIV/0!" -> "Div0", "#N/A" -> "NA", "#VALUE!" -> "Value")
  private val Words = Array("alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "zeta")

  private def numText(v: Double): String =
    if (v == math.rint(v)) v.toLong.toString
    else new java.math.BigDecimal(v).stripTrailingZeros.toPlainString

  def expected(c: XCell): String = c match {
    case XNum(v) => numText(v)
    case XShared(s) => s
    case XStr(s) => s
    case XBool(b) => b.toString
    case XErr(code) => ErrText(code)
    case XEmpty => ""
    case other => sys.error(s"unexpected cell $other")
  }

  /** xxhash64 (seed 42) of a cell's text, as Spark's `xxhash64` computes
    * it for a string column; a null cell leaves the seed unchanged.
    */
  def cellHash(text: String): Long =
    if (text == null) 42L
    else {
      val b = text.getBytes(StandardCharsets.UTF_8)
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }

  private def sheet(rng: scala.util.Random, rows: Int): (Sheet, Seq[BigInt]) = {
    val cells = mutable.HashMap.empty[(Int, Int), XCell]
    Header.zipWithIndex.foreach { case (h, c) => cells((0, c)) = XShared(h) }
    val sums = Array.fill(Header.size)(BigInt(0))
    (1 to rows).foreach { r =>
      val row: Array[XCell] = Array(
        XNum(r.toDouble),
        XShared(s"item_${rng.nextInt(500)}"),
        XNum((rng.nextInt(2000) - 1000).toDouble),
        XNum(rng.nextInt(400000) / 4.0),
        XBool(rng.nextBoolean()),
        rng.nextInt(10) match {
          case k if k < 5 => XStr(Seq.fill(1 + rng.nextInt(4))(Words(rng.nextInt(Words.length))).mkString(" "))
          case k if k < 8 => null
          case _ => XEmpty
        },
        if (rng.nextInt(10) == 0) XErr(Seq("#DIV/0!", "#N/A", "#VALUE!")(rng.nextInt(3)))
        else XShared(s"code_${rng.nextInt(40)}"),
        XNum(rng.nextInt(1 << 20) / 1024.0))
      row.zipWithIndex.foreach { case (cell, c) =>
        if (cell != null) cells((r, c)) = cell
        sums(c) += cellHash(if (cell == null) null else expected(cell))
      }
    }
    (Sheet("data", cells.toMap), sums.toSeq)
  }

  /** Write the corpus for `seed` under `dir`: `many/` holds the
    * mid-size workbooks (alternating xlsx and xlsb), `large.xlsx` the
    * single large sheet, `model.tsv` one line per workbook. `scale`
    * shrinks the row counts (used for warm-up inputs).
    */
  def generate(seed: Long, dir: String, scale: Double): Unit = {
    val rng = new scala.util.Random(seed)
    Files.createDirectories(Paths.get(dir, "many"))
    val manyRows = (ManyRows * scale).toInt
    val largeRows = (LargeRows * scale).toInt
    val books = (0 until ManyFiles).map { i =>
      val ext = if (i % 2 == 0) "xlsx" else "xlsb"
      val f = s"$dir/many/wb_$i%02d.$ext"
      val (sh, sums) = sheet(rng, manyRows)
      if (ext == "xlsx") XlsxWriter.write(f, Seq(sh)) else XlsbWriter.write(f, Seq(sh))
      Book(f, manyRows, manyRows.toLong * Header.size, sums)
    }
    val (big, bigSums) = sheet(rng, largeRows)
    XlsxWriter.write(s"$dir/large.xlsx", Seq(big))
    val large = Book(s"$dir/large.xlsx", largeRows, largeRows.toLong * Header.size, bigSums)
    val lines = (books :+ large).map(b =>
      (Seq(Paths.get(b.file).getFileName.toString, b.rows.toString, b.cells.toString) ++
        b.colHashes.map(_.toString)).mkString("\t"))
    Files.writeString(Paths.get(dir, "model.tsv"), lines.mkString("\n") + "\n")
  }

  /** Read the model back: file name -> book (paths resolved under `dir`). */
  def model(dir: String): Map[String, Book] =
    Files.readAllLines(Paths.get(dir, "model.tsv")).toArray.toSeq.map(_.toString)
      .filter(_.nonEmpty).map { l =>
        val p = l.split("\t")
        val file = if (p(0) == "large.xlsx") s"$dir/${p(0)}" else s"$dir/many/${p(0)}"
        p(0) -> Book(file, p(1).toInt, p(2).toLong, p.drop(3).map(BigInt(_)).toSeq)
      }.toMap

  /** Check converted outputs against their model books: header names,
    * row count and every column's hash, for all outputs in one job.
    * `outputs` maps each output directory to its book; returns the
    * mismatches found.
    */
  def check(spark: SparkSession, outputs: Seq[(String, Book)]): Seq[String] = {
    val df = spark.read.parquet(outputs.map(_._1): _*)
    if (df.columns.toSeq != Header)
      return outputs.map { case (out, _) => s"$out: header ${df.columns.mkString(",")}" }
    val aggs = count(lit(1)) +: Header.map(h =>
      coalesce(sum(xxhash64(col(h)).cast("decimal(38,0)")), lit(java.math.BigDecimal.ZERO)))
    val got = df.withColumn("_f", input_file_name())
      .groupBy(regexp_extract(col("_f"), "^(.*)/[^/]+$", 1).as("_dir"))
      .agg(aggs.head, aggs.tail: _*).collect()
      .map(r => new java.io.File(new java.net.URI(r.getString(0)).getPath).getPath -> r).toMap
    outputs.flatMap { case (out, book) =>
      got.get(new java.io.File(out).getPath) match {
        case None => Seq(s"$out: no rows")
        case Some(r) =>
          val n = r.getLong(1)
          (if (n != book.rows) Seq(s"$out: $n rows, want ${book.rows}") else Nil) ++
            Header.indices.collect {
              case i if BigInt(r.getDecimal(i + 2).toBigInteger) != book.colHashes(i) =>
                s"$out: column ${Header(i)} hash differs"
            }
      }
    }
  }
}
