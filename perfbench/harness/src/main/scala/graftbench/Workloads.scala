package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ExcelToParquet, SparkEntry, Tables}
import graft.operators.{DedupCluster, ProductQuantizer}
import graft.operators.ProductQuantizer.{HouseEvery, HouseM, HouseNProbe}
import graft.queries.LlmOps
import graft.streaming.StreamOps

/** The paper's own path. One pass converts the corpus of mid-size
  * xlsx/xlsb workbooks through `ExcelToParquet.convertMany`, `cores`
  * workbooks per call (the loop op), then one large sheet through
  * `convert` with a split scan; `pipeline_s` is the median pass. Every
  * pass converts a fresh copy of the large workbook, so the split scan's
  * chunk cache is cold for every timed conversion.
  */
final class ConvertCorpus(a: Main.Args) extends Workload {
  val loopKinds = Set("convert_many")
  private val loopKind = "convert_many"
  private val cores = a.int("cores")

  private def manyJobs(many: Seq[String], out: String): Seq[ExcelToParquet.Options] =
    many.map(f => ExcelToParquet.Options(f, s"$out/many/${Paths.get(f).getFileName}"))

  private def largeJob(corpus: String, out: String, tag: String): ExcelToParquet.Options = {
    val copy = Paths.get(out).resolveSibling(s"large_$tag.xlsx")
    Files.createDirectories(copy.getParent)
    Files.copy(Paths.get(corpus, "large.xlsx"), copy, StandardCopyOption.REPLACE_EXISTING)
    ExcelToParquet.Options(copy.toString, s"$out/large", sheetPartitions = cores)
  }

  private def manyFiles(corpus: String): Seq[String] = {
    val s = Files.list(Paths.get(corpus, "many"))
    try s.toArray.map(_.toString).sorted.toSeq finally s.close()
  }

  def warmup(spark: SparkSession): Unit = {
    val corpus = a("warm-corpus")
    val out = Paths.get(System.getProperty("java.io.tmpdir"), "warm_convert")
    ExcelToParquet.convertMany(spark, manyJobs(manyFiles(corpus).take(cores),
      out.resolve("out").toString), parallelism = cores)
    ExcelToParquet.convert(spark, largeJob(corpus, out.resolve("out").toString, "warm"))
    Util.deleteRec(out)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val corpus = a("corpus")
    val model = Corpus.model(corpus)
    val many = manyFiles(corpus)
    val manyCells = many.map(f => model(Paths.get(f).getFileName.toString).cells).sum.toDouble
    val largeCells = model("large.xlsx").cells.toDouble
    val t0 = System.nanoTime()
    var i = 0
    val outBytes = mutable.ArrayBuffer.empty[Double]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    var last: (java.nio.file.Path, ExcelToParquet.Options) = null
    // one loop op = one convertMany call over `cores` workbooks
    val batches = many.grouped(cores).toSeq
    while (ctx.more(i, MinPasses, t0)) {
      if (last != null) Util.deleteRec(last._1)
      val dir = ctx.scratch.resolve(s"convert/p$i")
      val out = dir.resolve("out").toString
      val opIdx = mutable.ArrayBuffer.empty[Int]
      val manyWall = batches.map { batch =>
        val cells = batch.map(f => model(Paths.get(f).getFileName.toString).cells).sum.toDouble
        val (_, wall) = ctx.tracer.op(loopKind, cells, ctx.loopTraced(i)) {
          ctx.tracer.span("ExcelToParquet.convertMany", "ExcelToParquet") {
            ExcelToParquet.convertMany(spark, manyJobs(batch, out), parallelism = cores)
          }
        } { res =>
          res.forall(_._2.isRight) ||
            ctx.fail(s"pass $i: ${res.collect { case (f, Left(e)) => s"$f: $e" }.mkString("; ")}")
        }
        opIdx += ctx.tracer.ops.size - 1
        wall
      }.sum
      val large = largeJob(corpus, out, s"p$i")
      val (_, largeWall) = ctx.tracer.op("convert_large", largeCells, ctx.loopTraced(i)) {
        ctx.tracer.span("ExcelToParquet.convert", "ExcelToParquet") {
          ExcelToParquet.convert(spark, large)
        }
      }(n => n == model("large.xlsx").rows || ctx.fail(s"pass $i: large sheet gave $n rows"))
      passWalls += manyWall + largeWall
      if (ctx.corrupt == "convert" && i == 0) {
        val victim = s"$out/many/${Paths.get(many.head).getFileName}"
        spark.read.parquet(victim).limit(model(Paths.get(many.head).getFileName.toString).rows - 1)
          .write.parquet(victim + "_cut")
        Util.deleteRec(Paths.get(victim))
        Files.move(Paths.get(victim + "_cut"), Paths.get(victim))
      }
      // the generator's model: header names, row count, column hashes;
      // a mismatch fails the op that wrote the output
      val outputs = (many.map(f => s"$out/many/${Paths.get(f).getFileName}" -> Paths.get(f).getFileName.toString) :+
        (s"$out/large" -> "large.xlsx"))
      val bad = Corpus.check(spark, outputs.map { case (o, name) => o -> model(name) })
      val ops = ctx.tracer.ops
      outputs.zipWithIndex.foreach { case ((o, _), k) =>
        val errs = bad.filter(_.startsWith(o + ":"))
        val idx = if (k < many.size) opIdx(k / cores) else ops.size - 1
        if (errs.nonEmpty) {
          errs.foreach(ctx.fail)
          ops(idx) = ops(idx).copy(ok = false)
        }
      }
      outBytes += Util.parquetBytes(Paths.get(out)).toDouble
      last = (dir, large)
      i += 1
    }
    ctx.pipelineS = Main.median(passWalls.toSeq)
    val cells = manyCells + largeCells
    ctx.layers("convert.mcells_per_s") = cells * passWalls.size / passWalls.sum / 1e6
    ctx.layers("convert.out_bytes") = Main.median(outBytes.toSeq)
    ctx.layers("convert.out_bytes_per_cell") = Main.median(outBytes.toSeq) / cells
    if (ctx.traced)
      Layers.convertProbe(ctx, corpus, many, model, last._1.resolve("out").toString,
        last._2.input, Main.median(passWalls.toSeq))
    Util.deleteRec(last._1)
  }

  val MinPasses = 2
}

/** Everything but the Excel path, on one seeded sf-layout directory:
  * the LLM-data chain (curate -> index build -> append), a bounded
  * transformWithState drive over the events (the streaming layer), then
  * one client in a closed loop of mixed reads against the fresh index:
  * the relational/TPC-H registry pool and single-vector IVF-PQ top-k
  * probes. Each loop round runs every pool query and `ProbesPerRound`
  * probes once, in a seeded order, so the latency sample always has the
  * same mix.
  */
final class CurateIndexServe(a: Main.Args) extends Workload {
  val loopKinds = Set("sql_query", "serve_probe")
  val K = 10
  val ProbesPerRound = 4
  val pool: Seq[String] = Seq("q04_filter_pushdown", "q05_join_star", "q07_join_range",
    "q08_agg_tpch_q1", "q11_window_rank", "q13_topk", "q05_sql_tpch_q3")
  private lazy val defs = SparkEntry.registry.filter(q => pool.contains(q.name))
    .map(q => q.name -> q).toMap

  val RollupSql: String =
    """SELECT user_id, count(*) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
      |       count(DISTINCT event_type) AS n_types
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  private def drive(spark: SparkSession, dir: String): DataFrame = {
    val batches = s"$dir/events_batches"
    val schema = spark.read.parquet(batches).schema
    StreamOps.streamUserStatsTwsFrom(spark,
      s => s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(batches))
  }

  /** Curate, index build and append, one op each step. Returns the
    * frozen models and the stored codes the probes serve from.
    */
  private def chain(ctx: Ctx, dir: String, idx: String): (DataFrame, DataFrame, DataFrame) = {
    val spark = ctx.spark
    def op[T](kind: String, units: Double)(body: => T): T =
      ctx.tracer.op(kind, units)(body)(_ => true)._1
    def span[T](name: String, layer: String)(body: => T): T = ctx.tracer.span(name, layer)(body)
    val docs = Tables.load(spark, dir, "documents")
    val q22 = SparkEntry.queries("q22_dedup_exact")
    val (exactDf, exact) = op("curate.dedup_exact", 1) {
      val df = span("q22_dedup_exact.build", "queries") { q22(spark, dir) }
      (df, span("q22_dedup_exact.collect", "plans+exec") { df.collect() })
    }
    val (pairsDf, pairs) = op("curate.pairs", 1) {
      val df = span("LlmOps.minhashVerifiedPairs", "operators") {
        LlmOps.minhashVerifiedPairs(spark, dir, 0.8).orderBy("doc_a", "doc_b")
      }
      (df, span("pairs.collect", "plans+exec") { df.collect() })
    }
    val (ccDf, cc) = op("curate.cc", 1) {
      val edges = spark.createDataFrame(java.util.Arrays.asList(pairs: _*), pairsDf.schema)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val df = span("DedupCluster.connectedComponents", "operators") {
        DedupCluster.connectedComponents(docs.select(col("doc_id").as("node")), edges)
          .select(col("node").as("doc_id"), col("cluster_id")).orderBy("doc_id")
      }
      (df, span("cc.collect", "plans+exec") { df.collect() })
    }
    ctx.dump("q22_dedup_exact", exactDf, exact, SparkEntry.oracleSql("q22_dedup_exact"), dir, 1)
    ctx.dump("minhash_pairs", pairsDf, pairs, SparkEntry.oracleSql("q23_minhash_lsh"), dir, 1)
    ctx.dump("dedup_clusters", ccDf, cc, SparkEntry.oracleSql("q23_dedup_clusters"), dir, 1)
    ctx.layers("curate.verified_pairs") = pairs.length

    val base = Tables.load(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    op("index.centroids", 1) {
      span("LlmOps.ivfCentroids", "operators") { LlmOps.ivfCentroids(spark, dir, base) }
        .write.mode("overwrite").parquet(s"$idx/coarse")
    }
    op("index.books", 1) {
      span("ProductQuantizer.ivfPqTrainBooks", "operators") {
        ProductQuantizer.ivfPqTrainBooks(base, "vec_id", "embedding", HouseM,
          spark.read.parquet(s"$idx/coarse"), HouseEvery, 2)
      }.write.mode("overwrite").parquet(s"$idx/books")
    }
    val coarse = spark.read.parquet(s"$idx/coarse")
    val books = spark.read.parquet(s"$idx/books")
    op("index.encode", 1) {
      span("ProductQuantizer.ivfPqEncodeWith", "operators") {
        ProductQuantizer.ivfPqEncodeWith(base, "vec_id", "embedding", HouseM, coarse, books)
      }.write.mode("overwrite").parquet(s"$idx/codes/gen=0")
    }
    val batch = spark.read.parquet(s"$dir/embeddings_append.parquet")
      .select(col("vec_id"), col("embedding"))
    op("append", batch.count().toDouble) {
      span("ProductQuantizer.ivfPqEncodeWith", "operators") {
        ProductQuantizer.ivfPqEncodeWith(batch, "vec_id", "embedding", HouseM, coarse, books)
      }.write.mode("overwrite").parquet(s"$idx/codes/gen=1")
    }
    (coarse, books, spark.read.parquet(s"$idx/codes").select(col("cell_id"), col("vec_id"), col("codes")))
  }

  private def probe(spark: SparkSession, v: Row, idx: (DataFrame, DataFrame, DataFrame)): Array[Row] = {
    val q = spark.createDataFrame(java.util.Arrays.asList(v), v.schema)
    ProductQuantizer.ivfPqTopK(q, "embedding", HouseM, idx._1, idx._2, idx._3, "vec_id",
      nProbe = HouseNProbe, k = K).collect()
  }

  /** Only the loop's queries are warmed up. The chain and the streaming
    * drive run once per process, so their first, JIT-cold run is the
    * cost a user pays and is what `pipeline_s` measures.
    */
  def warmup(spark: SparkSession): Unit =
    pool.foreach(q => defs(q).run(spark, a("warm-inputs")).collect())

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = a("inputs")
    val idx = ctx.scratch.resolve("index").toString
    val index = chain(ctx, dir, idx)

    // the streaming drive; its result must equal the batch rollup DuckDB
    // computes over the same events
    val events = spark.read.parquet(s"$dir/events.parquet").count().toDouble
    val ((twsDf, twsRows), driveS) = ctx.tracer.op("tws_drive", events) {
      val df = ctx.tracer.span("StreamOps.streamUserStatsTwsFrom", "streaming") { drive(spark, dir) }
      (df, ctx.tracer.span("tws.collect", "plans+exec") { df.collect() })
    }(_ => true)
    ctx.dump("tws_rollup", twsDf, twsRows, RollupSql, dir, 1)
    ctx.layers("stream.events_per_s") = events / driveS

    val chainOps = ctx.tracer.ops.toSeq
    ctx.pipelineS = chainOps.map(_.wallS).sum
    ctx.layers("curate.wall_s") = chainOps.filter(_.kind.startsWith("curate.")).map(_.wallS).sum
    ctx.layers("index.build_s") = chainOps.filter(_.kind.startsWith("index.")).map(_.wallS).sum
    val app = chainOps.find(_.kind == "append").get
    ctx.layers("append.rows_per_s") = app.units / app.wallS
    if (ctx.traced) {
      // encode = building the encoded frame (the frozen books are
      // collected to the driver there); write = running it into parquet
      val enc = ctx.tracer.spans.filter(s => s.op == app.id && s.name == "ProductQuantizer.ivfPqEncodeWith")
        .map(s => (s.endNs - s.startNs) / 1e9).sum
      ctx.layers("append.encode_s") = enc
      ctx.layers("append.write_s") = app.wallS - enc
      Layers.curateProbe(ctx, dir, chainOps)
    }
    // warm the probe path with the warm-up seed's vector before timing it
    probe(spark, spark.read.parquet(s"${a("warm-inputs")}/probes.parquet")
      .select(col("embedding")).head(), index)

    // the closed loop of mixed reads
    val vs = spark.read.parquet(s"$dir/probes.parquet").orderBy("vec_id")
      .select(col("embedding")).collect()
    val rng = new scala.util.Random(ctx.seed)
    val probeOrder = rng.shuffle(vs.indices.toVector)
    val first = mutable.LinkedHashMap.empty[String, (DataFrame, Array[Row], String)]
    val got = mutable.ArrayBuffer.empty[(String, String, Int)] // (query, hash, op index)
    val t0 = System.nanoTime()
    var rounds = 0
    var i = 0
    var p = 0
    while (ctx.more(rounds, 1, t0)) {
      rng.shuffle(pool.map(Some(_)) ++ Seq.fill(ProbesPerRound)(None)).foreach {
        case Some(q) =>
          val ((df, rows), _) = ctx.tracer.op("sql_query", 1, ctx.loopTraced(i)) {
            val df = ctx.tracer.span(s"$q.build", "queries") { defs(q).run(spark, dir) }
            (df, ctx.tracer.span(s"$q.collect", "plans+exec") { df.collect() })
          }(_ => true)
          val h = Util.rowsHash(rows)
          if (!first.contains(q)) first(q) = (df, rows, h)
          got += ((q, h, ctx.tracer.ops.size - 1))
          i += 1
        case None =>
          val v = vs(probeOrder(p % vs.length))
          ctx.tracer.op("serve_probe", 1, ctx.loopTraced(i)) {
            ctx.tracer.span("ProductQuantizer.ivfPqTopK", "operators") {
              val r = probe(spark, v, index)
              if (ctx.corrupt == "serve" && p == 0) r.dropRight(1) else r
            }
          } { rows =>
            // the q68 serving contract: k results from at most nProbe
            // cells, every ADC distance finite and non-negative
            val cells = rows.map(_.getAs[Any]("cell_id")).distinct.length
            val d = rows.map(_.getAs[Double]("adc_dist"))
            (rows.length == K && cells <= HouseNProbe &&
              d.forall(x => !x.isNaN && !x.isInfinite && x >= -1e-9)) ||
              ctx.fail(s"probe $p: ${rows.length} rows from $cells cells")
          }
          i += 1
          p += 1
      }
      rounds += 1
    }
    // every timed op of a query must repeat its first result exactly;
    // the first result is what the DuckDB oracle checks
    first.foreach { case (q, (df, rows, ref)) =>
      val mine = got.filter(_._1 == q)
      mine.filter(_._2 != ref).foreach { case (_, _, idx) =>
        ctx.fail(s"$q: op $idx returned different rows")
        ctx.tracer.ops(idx) = ctx.tracer.ops(idx).copy(ok = false)
      }
      ctx.dump(q, df, rows, SparkEntry.oracleSql(q), dir, mine.size)
    }
    def p50(kind: String) = Main.median(ctx.tracer.ops.filter(_.kind == kind).map(_.wallS).toSeq)
    ctx.layers("sql.p50_s") = p50("sql_query")
    ctx.layers("serve.p50_s") = p50("serve_probe")
  }
}
