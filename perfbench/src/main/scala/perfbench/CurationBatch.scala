package perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.functions.{BloomHolder, BloomMightContainAnyLong, VectorFunctions}
import graft.operators.{Curation, Dedup}
import graft.util.Tables

/** `curation_batch`: the repository's `cur_pipeline7` chain over a seeded
  * corpus with the reference `documents` statistics plus injected
  * near-duplicates and benchmark leaks: bloom-prefiltered containment
  * decontamination → n-gram Jaccard pairs → best copy per duplicate
  * component → seeded per-source cap → token-budget epoch allocation.
  * Few queries, each bound by executor CPU and shuffle in the kernels
  * and the Dedup/Curation operators. Pipeline runs repeat until the
  * measured time is used up; `run.py` checks every run's output against
  * the gate's oracle SQL run in DuckDB on the same corpus.
  */
object CurationBatch {
  /** Pipeline runs over the whole corpus before the timed set-ups. A
    * warm-up over a smaller corpus leaves the window's first run the
    * slowest, and the median then depends on whether two or three runs
    * fit the window.
    */
  val warmupRuns = 1
  val schema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  /** One run of the pipeline, stage by stage as `cur_pipeline7` composes
    * it; returns the recipe rows (source, avail_tokens, weight,
    * alloc_tokens, epochs) and the stage frames for the trace.
    */
  def pipeline(spark: SparkSession, dataDir: String, tr: Tracer): (Array[org.apache.spark.sql.Row], DataFrame, DataFrame) = {
    val d = Tables.documents(spark, dataDir)
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
    val bench = d.filter(col("doc_id") % 10 === 0)
    val clean = tr.span("operators", "Curation.decontaminateByBloom")(
      Dedup.materialize(Curation.decontaminateByBloom(corpus, bench, n = 2, threshold = 0.5)))
    val pairs = tr.span("operators", "Dedup.ngramJaccard")(Dedup.ngramJaccard(clean, n = 2, threshold = 0.5))
    val canon = tr.span("operators", "Dedup.keepBestPerComponent")(
      Dedup.keepBestPerComponent(clean, pairs, orderDescCols = Seq("n_chars", "doc_id")))
    val rows = tr.span("operators", "cap_alloc") {
      val capped = tr.span("plans", "Curation.capPerStratum")(
        Curation.capPerStratum(canon, "source", "doc_id", k = 20, seed = "p7"))
      tr.span("operators", "Curation.epochAllocation")(
        Curation.epochAllocation(capped, "source", "n_chars", alpha = 0.7, budgetTokens = 1000000L).collect())
    }
    (rows, clean, pairs)
  }

  def run(ctx: Ctx): Unit = {
    val n = math.max(400, (2000 * ctx.scale).toInt)
    val docs = Gen.documents(ctx.seed, n, dupShare = 0.15, editShare = 0.1)
    val json = new File(ctx.path("documents.json"))
    ctx.dir.mkdirs()
    val sb = new java.lang.StringBuilder(n * 400)
    docs.foreach(d => sb.append(Json(mutable.LinkedHashMap("doc_id" -> d.docId, "text" -> d.text,
      "lang" -> d.lang, "source" -> d.source, "n_chars" -> d.nChars))).append('\n'))
    Files.writeString(json.toPath, sb)
    val dataDir = ctx.path("data")

    // the program's input table: the generated corpus as `documents`
    // parquet; warm-up: a pipeline run over all of it
    def load(s: SparkSession, dir: String, docs: Int): Unit = {
      s.read.schema(schema).json(json.getAbsolutePath).filter(col("doc_id") < docs).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Tables.documents(s, dir).count()
    }
    ctx.warmUp(warmupRuns) { (s, i) =>
      if (i == 0) load(s, ctx.path("warm"), n)
      pipeline(s, ctx.path("warm"), new Tracer(false))
    }
    // set-up: a session plus loading the corpus into the input table
    // and opening it
    val (spark, _) = ctx.setUp(s => load(s, dataDir, n))((_, _) => ())

    val outputs = mutable.ArrayBuffer.empty[String]
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    var last: (DataFrame, DataFrame) = null
    ctx.measure(spark) {
      val t0 = System.nanoTime()
      while (walls.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        val s = System.nanoTime(); val c = ctx.cpuS()
        val (rows, clean, pairs) = pipeline(spark, dataDir, ctx.tr)
        walls += (System.nanoTime() - s) / 1e6
        cpus += ctx.cpuS() - c
        last = (clean, pairs)
        val f = new File(ctx.path(s"output-${outputs.size}.json"))
        Files.writeString(f.toPath, Json(rows.map(r => mutable.LinkedHashMap(
          "source" -> r.getString(0), "avail_tokens" -> r.getLong(1), "weight" -> r.getDouble(2),
          "alloc_tokens" -> r.getDouble(3), "epochs" -> r.getDouble(4))).toSeq))
        outputs += f.getAbsolutePath
      }
    }
    ctx.attempted += walls.size
    // a typical run, the median one; its latency is its time to the answer
    val wall = ctx.median(walls.toSeq) / 1000
    ctx.result(n.toLong, wall, ctx.median(cpus.toSeq), walls.toSeq)
    ctx.report("docs_per_s", n / wall)
    ctx.report("pipeline_runs", walls.size)
    ctx.out("oracle") = mutable.LinkedHashMap("sql" -> graft.SparkEntry.oracleSql("cur_pipeline7"),
      "documents" -> s"$dataDir/documents.parquet", "corpus" -> json.getAbsolutePath,
      "outputs" -> outputs.toSeq)

    if (ctx.tr.on) {
      val tr = ctx.tr
      ctx.layer("cur.decon_s", tr.spanSeconds("Curation.decontaminateByBloom"))
      ctx.layer("cur.pairs_s", tr.spanSeconds("Dedup.ngramJaccard"))
      ctx.layer("cur.keep_best_s", tr.spanSeconds("Dedup.keepBestPerComponent"))
      ctx.layer("cur.cap_alloc_s", tr.spanSeconds("cap_alloc"))
      ctx.layer("cur.survivors", last._1.count())
      ctx.layer("cur.pairs", last._2.count())
      // kernel-only projections over the same corpus, to a noop sink
      val d = Tables.documents(spark, dataDir)
      val corpus = d.filter(col("doc_id") % 10 =!= 0)
      val bench = d.filter(col("doc_id") % 10 === 0)
      val sh = VectorFunctions.shingleHashes(col("text"), 2)
      val t0 = System.nanoTime()
      tr.span("functions", "ShingleHashes")(corpus.select(sh).write.format("noop").mode("overwrite").save())
      ctx.layer("fn.shingle_s", (System.nanoTime() - t0) / 1e9)
      val benchSh = bench.select(explode(sh).as("sh")).distinct()
      val bloom = benchSh.stat.bloomFilter("sh", math.max(benchSh.count(), 1L), 0.01)
      val bos = new java.io.ByteArrayOutputStream(); bloom.writeTo(bos)
      val probe = ColumnBridge.column(BloomMightContainAnyLong(ColumnBridge.expression(sh),
        new BloomHolder(bos.toByteArray)))
      val t1 = System.nanoTime()
      tr.span("functions", "BloomMightContainAnyLong")(
        corpus.filter(probe).write.format("noop").mode("overwrite").save())
      ctx.layer("fn.bloom_probe_s", (System.nanoTime() - t1) / 1e9)
    }
  }
}
