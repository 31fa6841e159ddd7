package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.dedup.LshIndex
import graft.pipelines.CurationJob
import graft.similarity.{Embeddings, VectorIndex}
import graft.sources.{FileStats, Snapshots}

/** `curation_week`: the LLM-data write path with interactive reads
  * beside it. Set-up commits the base corpus (with `doc_id` stats),
  * builds the LSH index and builds the stored IVF vector index. Each
  * cycle is one day: `absorbDaily` on the day's batch; then one
  * closed-loop reader sending point `lookupDocs` on the growing corpus,
  * with an ANN top-10 `ivfTopKStored` query after every fourth; then
  * `nightly(keep = 3)`. */
object CurationWeek {
  val Days = 7
  val K = 10
  val SetupReps = 2

  private final case class Roots(curated: String, lsh: String, vidx: String)
  private sealed trait Read
  private final case class Lookup(id: Long) extends Read
  private final case class Ann(qId: Long, qv: Array[Double]) extends Read
  private final case class DayResult(ingestS: Double, nightlyS: Double,
      lookupS: Seq[Double], annS: Seq[Double], docs: Int)

  def run(ctx: Ctx): Unit = {
    val baseCommit, lshBuild, vectorBuild = mutable.ArrayBuffer.empty[Double]
    /** Set-up on fresh roots: (seconds, roots). */
    def setUp(tag: String): (Double, Roots) = {
      val t0 = System.nanoTime()
      ctx.startSession()
      val roots = Roots(s"${ctx.work}/$tag/curated", s"${ctx.work}/$tag/lsh", s"${ctx.work}/$tag/vidx")
      val corpus = ctx.spark.read.parquet(s"${ctx.data}/documents.parquet")
      val vecs = ctx.spark.read.parquet(s"${ctx.data}/embeddings.parquet")
        .select(col("vec_id"), Embeddings.asDouble(col("embedding")).as("v"))
      baseCommit += ctx.tracer.call("sources.Snapshots.commit") {
        Snapshots.commit(corpus, roots.curated, Seq("doc_id"))
      }._2
      lshBuild += ctx.tracer.call("dedup.LshIndex.build") { LshIndex.build(corpus, roots.lsh) }._2
      vectorBuild += ctx.tracer.call("similarity.VectorIndex.build") { VectorIndex.build(vecs, roots.vidx) }._2
      (Stats.since(t0), roots)
    }
    val setups = (1 to SetupReps).map(r => setUp(s"s$r"))
    val roots = setups.last._2
    val spark = ctx.spark
    import spark.implicits._

    // the benchmark's own model: the curated corpus (id -> text) and the
    // exact vectors the ANN answers are checked against
    val present = mutable.HashMap.empty[Long, String]
    spark.read.parquet(s"${ctx.data}/documents.parquet").select("doc_id", "text").as[(Long, String)]
      .collect().foreach { case (id, t) => present(id) = t }
    val vectors: Map[Long, Array[Double]] = spark.read.parquet(s"${ctx.data}/embeddings.parquet")
      .select(col("vec_id"), Embeddings.asDouble(col("embedding"))).as[(Long, Array[Double])]
      .collect().toMap
    val queries: Map[Int, Seq[Ann]] = spark.read.parquet(s"${ctx.data}/queries.parquet")
      .select("q_id", "qv", "day").as[(Long, Array[Double], Int)].collect().toSeq
      .groupBy(_._3).map { case (d, qs) => d -> qs.map(q => Ann(q._1, q._2)) }
    def lookupIds(d: Int): Seq[Long] =
      scala.io.Source.fromFile(s"${ctx.data}/lookups_$d.txt").getLines().filter(_.nonEmpty).map(_.toLong).toSeq

    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dot, na, nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def round6(x: Double): Double = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val answered = mutable.ArrayBuffer.empty[(Array[Double], Seq[Long])]

    /** One read; returns its latency in seconds. Warm-up reads (`count`
      * off) are not counted as ops, but an error still ends the run. */
    def read(r: Read, count: Boolean): Double = {
      var t = Double.NaN
      def check: Option[String] = r match {
        case Lookup(id) =>
          val (rows, s) = ctx.tracer.call("pipelines.CurationJob.lookupDocs") {
            CurationJob.lookupDocs(spark, roots.curated, id, id).select("doc_id", "text").as[(Long, String)]
              .collect()
          }
          t = s
          val want = present.get(id).map(id -> _).toSeq
          if (rows.toSeq != want) Some(s"lookup $id returned ${rows.map(_._1).toSeq}, model says ${want.map(_._1)}")
          else None
        case Ann(qId, qv) =>
          val (rows, s) = ctx.tracer.call("similarity.VectorIndex.ivfTopKStored") {
            VectorIndex.ivfTopKStored(spark, roots.vidx, Seq((qId, qv)).toDF("q_id", "qv"), k = K)
              .select("rank", "n_id", "cos").as[(Long, Long, Double)].collect().sortBy(_._1)
          }
          t = s
          if (count) answered += ((qv, rows.map(_._2).toSeq))
          if (rows.length != K) Some(s"ann $qId: ${rows.length} rows, want $K")
          else rows.find { case (_, n, c) =>
            !vectors.contains(n) || math.abs(c - round6(cosine(qv, vectors(n)))) > 1.5e-6
          }.map { case (_, n, c) => s"ann $qId: neighbour $n scored $c, not its exact cosine" }
      }
      val what = r match { case Lookup(id) => s"lookup $id"; case Ann(q, _) => s"ann $q" }
      if (count) ctx.op(what)(check) else check.foreach(p => throw new IllegalStateException(p))
      t
    }

    /** One closed-loop reader: sends its next read only when the previous
      * one has returned, an ANN query after every `lookups / anns`
      * lookups. */
    def reader(lookups: Seq[Long], anns: Seq[Ann], count: Boolean): Seq[(Read, Double)] = {
      val every = math.max(1, lookups.size / math.max(1, anns.size))
      val plan: Seq[Read] = lookups.grouped(every).toSeq.zipAll(anns.map(Some(_)), Seq.empty[Long], None)
        .flatMap { case (ls, a) => ls.map(Lookup) ++ a }
      plan.map(r => r -> read(r, count))
    }

    var planted, plantedHit, fresh, freshHit = 0L
    val chainLens, filesTouched, writeAmp, filesWritten, compactBytes = mutable.ArrayBuffer.empty[Double]

    def day(d: Int): DayResult = {
      val batchPath = s"${ctx.data}/batch_$d.parquet"
      val batch = spark.read.parquet(batchPath)
      val texts = batch.as[(Long, String)].collect().toMap
      val truth = spark.read.parquet(s"${ctx.data}/truth_$d.parquet").select("doc_id", "planted")
        .as[(Long, Byte)].collect().toMap
      val filesBefore = Stats.parquetFiles(roots.curated) + Stats.parquetFiles(roots.lsh)

      var tIngest = Double.NaN
      ctx.op(s"absorbDaily day $d") {
        val (disp, t) = ctx.tracer.call("pipelines.CurationJob.absorbDaily") {
          CurationJob.absorbDaily(batch, roots.curated, roots.lsh, d.toLong)
            .select("doc_id", "quality_pass", "n_matches", "kept").as[(Long, Int, Long, Int)].collect()
        }
        tIngest = t
        disp.filter(_._4 == 1).foreach(r => present(r._1) = texts(r._1))
        disp.filter(_._2 == 1).foreach { case (id, _, m, _) =>
          if (truth(id) == 1) { planted += 1; if (m > 0) plantedHit += 1 }
          else { fresh += 1; if (m > 0) freshHit += 1 }
        }
        val ids = disp.map(_._1)
        if (ids.length != texts.size || ids.distinct.length != ids.length || !ids.forall(texts.contains))
          Some(s"disposition lists ${ids.length} rows (${ids.distinct.length} distinct) for ${texts.size} batch docs")
        else disp.find { case (_, q, m, k) => (k == 1) != (q == 1 && m == 0) }
          .map { case (id, q, m, k) => s"doc $id: kept=$k with quality_pass=$q n_matches=$m" }
      }
      if (ctx.tracer.on) {
        val absorb = ctx.tracer.named("pipelines.CurationJob.absorbDaily").maxBy(_.id)
        ctx.drainListener()
        writeAmp += ctx.folder.totals(ctx.tracer.subtree(absorb)).outputBytes.toDouble /
          Files.size(Paths.get(batchPath))
        filesWritten += (Stats.parquetFiles(roots.curated) + Stats.parquetFiles(roots.lsh) - filesBefore).toDouble
        chainLens += Seq(roots.curated, LshIndex.bandsRoot(roots.lsh), LshIndex.shinglesRoot(roots.lsh))
          .map(r => Snapshots.chainVersions(r, Snapshots.latestVersion(r).get).size).max.toDouble
        val v = Snapshots.latestVersion(roots.curated).get
        lookupIds(d).foreach { id =>
          filesTouched += Snapshots.chainVersions(roots.curated, v).flatMap(m =>
            Snapshots.prunedFileCount(roots.curated, m,
              Seq(FileStats.ColRange("doc_id", Some(id), Some(id)))).map(_._1)).sum.toDouble
        }
      }

      val reads = reader(lookupIds(d), queries(d), count = true)

      var tNightly = Double.NaN
      ctx.op(s"nightly day $d") {
        tNightly = ctx.tracer.call("pipelines.CurationJob.nightly") {
          CurationJob.nightly(spark, roots.curated, roots.lsh, keep = 3)
        }._2
        val v = Snapshots.latestVersion(roots.curated).get
        if (Snapshots.isDelta(roots.curated, v)) Some(s"curated chain still ends in delta v$v") else None
      }
      if (ctx.tracer.on) {
        val nightly = ctx.tracer.named("pipelines.CurationJob.nightly").maxBy(_.id)
        ctx.drainListener()
        compactBytes += ctx.folder.totals(ctx.tracer.subtree(nightly)).outputBytes.toDouble
      }
      DayResult(tIngest, tNightly,
        reads.collect { case (Lookup(_), t) => t }.filterNot(_.isNaN),
        reads.collect { case (Ann(_, _), t) => t }.filterNot(_.isNaN), texts.size)
    }

    // warm the read path on the base corpus: a reader's first requests
    // otherwise run 20-40 % slower
    reader(present.keys.toSeq.sorted.take(2), queries(-1).take(1), count = false)
    val done = ctx.cycles(warmup = 0, maxCycles = Days)(day)

    // the curated corpus after the week: no duplicate doc_id, exactly the model's ids
    ctx.op("curated corpus audit") {
      val ids = Snapshots.read(spark, roots.curated).select(col("doc_id")).as[Long].collect()
      if (ids.distinct.length != ids.length) Some(s"${ids.length - ids.distinct.length} duplicate doc_ids")
      else if (ids.toSet != present.keySet) Some(s"${ids.length} ids stored, model holds ${present.size}")
      else None
    }

    val measured = done.filter(_.measured)
    val ingest = measured.map(_.result.ingestS).filterNot(_.isNaN)
    val reads = measured.flatMap(d => d.result.lookupS ++ d.result.annS)
    val absorbed = done.indices.map(d => ctx.inputBytes(s"batch_$d.parquet")).sum
    val stored = Seq(roots.curated, roots.lsh, roots.vidx).map(Stats.treeBytes).sum
    ctx.metric("setup_s", Stats.median(setups.map(_._1)), "s")
    ctx.metric("wall_s", Stats.median(measured.map(_.seconds)), "s")
    ctx.metric("main_op_p50_ms", Stats.median(ingest) * 1e3, "ms")
    ctx.metric("short_op_p50_ms", Stats.quantile(reads, 0.5) * 1e3, "ms")
    ctx.metric("short_op_p90_ms", Stats.quantile(reads, 0.9) * 1e3, "ms")
    ctx.metric("ops_per_s", measured.map(d => 2.0 + d.result.lookupS.size + d.result.annS.size).sum /
      measured.map(_.seconds).sum, "1/s")
    ctx.metric("stored_bytes_per_input_byte", stored.toDouble /
      (ctx.inputBytes("documents.parquet", "embeddings.parquet") + absorbed), "ratio")
    ctx.extra("samples", Json.obj(
      "setup_s" -> Json.arr(setups.map(s => Json.num(s._1))),
      "cycle_s" -> Json.arr(measured.map(d => Json.num(d.seconds))),
      "ingest_s" -> Json.arr(ingest.map(Json.num)),
      "nightly_s" -> Json.arr(measured.map(d => Json.num(d.result.nightlyS))),
      "lookup_p50_ms" -> Json.num(Stats.median(measured.flatMap(_.result.lookupS)) * 1e3),
      "ann_p50_ms" -> Json.num(Stats.median(measured.flatMap(_.result.annS)) * 1e3),
      "read_ms" -> Json.arr(reads.sorted.map(r => Json.num(math.round(r * 1e3).toDouble))),
      "docs_per_s" -> Json.num(measured.map(_.result.docs).sum / math.max(1e-9, ingest.sum))))

    if (ctx.traced) {
      val sheet = new Layers.Sheet
      Layers.engine(ctx, sheet)
      // module job time inside the absorb span, per day, by call site
      val absorbs = ctx.tracer.named("pipelines.CurationJob.absorbDaily")
      Layers.Modules.foreach { m =>
        sheet(s"$m.job_s") = Stats.mean(absorbs.map(s =>
          ctx.folder.totals(ctx.tracer.subtree(s)).jobMsByModule.getOrElse(m, 0L) / 1e3))
      }
      sheet("pipelines.absorb_daily_s") = Layers.spanMedian(ctx, "pipelines.CurationJob.absorbDaily")
      sheet("pipelines.nightly_s") = Layers.spanMedian(ctx, "pipelines.CurationJob.nightly")
      sheet("pipelines.lookup_p50_ms") = Layers.spanMedian(ctx, "pipelines.CurationJob.lookupDocs") * 1e3
      sheet("similarity.ann_p50_ms") = Layers.spanMedian(ctx, "similarity.VectorIndex.ivfTopKStored") * 1e3
      sheet("sources.compact_bytes_rewritten") = Stats.mean(compactBytes.toSeq)
      sheet("sources.chain_len_max") = if (chainLens.isEmpty) 0.0 else chainLens.max
      sheet("sources.lookup_files_touched") = Stats.median(filesTouched.toSeq)
      sheet("sources.write_amp") = Stats.mean(writeAmp.toSeq)
      sheet("sources.files_written") = Stats.mean(filesWritten.toSeq)
      sheet("sources.base_commit_s") = Stats.median(baseCommit.toSeq)
      sheet("dedup.lsh_build_s") = Stats.median(lshBuild.toSeq)
      sheet("dedup.planted_recall") = plantedHit.toDouble / math.max(1L, planted)
      sheet("dedup.fresh_drop_frac") = freshHit.toDouble / math.max(1L, fresh)
      sheet("similarity.vector_build_s") = Stats.median(vectorBuild.toSeq)
      val all = vectors.toSeq
      sheet("similarity.recall_at_10") = Stats.mean(answered.toSeq.map { case (qv, got) =>
        val exact = all.sortBy { case (id, v) => (-cosine(qv, v), id) }.take(K).map(_._1).toSet
        got.count(exact).toDouble / K
      })
      ctx.tracer.on = true
      (1 to 20).foreach(_ => ctx.tracer.call("sources.Snapshots.read") { Snapshots.read(spark, roots.curated) })
      ctx.tracer.on = false
      sheet("sources.snapshot_read_ms") = Layers.spanMedian(ctx, "sources.Snapshots.read") * 1e3
      sheet("trace.overhead_s") = ctx.tracingOverhead(done)
      sheet.emit(ctx)
    }
  }
}
