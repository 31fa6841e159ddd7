package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.{Embeddings, VectorIndex}
import graft.sources.{Snapshots, Tables}

/** The stored vector index contract: build once / query many (no
  * training aggregate and no corpus scan in the query plan — the
  * r4 verdict's "IVF recomputes per run" gap), partition-pruned
  * probe reads, idempotent rebuild with version history, and
  * stored-vs-inline result equality for both IVF and PQ. */
class VectorIndexSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val raw = Tables.embeddings(spark, sf)
  private lazy val vecs =
    raw.select(col("vec_id"), Embeddings.asDouble(col("embedding")).as("v"))

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-vidx").toString

  test("build-once/query-many: repeated queries never retrain or re-commit") {
    val root = freshRoot()
    VectorIndex.build(vecs, root, seedK = 8, iters = 2)
    val cv0 = Snapshots.versions(VectorIndex.centroidsRoot(root))
    val av0 = Snapshots.versions(VectorIndex.assignmentsRoot(root))
    // queries as a literal in-memory frame: the stored-query plan then
    // has NO reason to touch the corpus parquet at all
    import spark.implicits._
    val qRows = vecs.filter(col("vec_id") < 5)
      .as[(Long, Array[Double])].collect().toSeq
    val queries = qRows.toDF("q_id", "qv")
    val r1 = VectorIndex.ivfTopKStored(spark, root, queries, k = 3).collect()
    val r2 = VectorIndex.ivfTopKStored(spark, root, queries, k = 3).collect()
    assert(r1.toSeq == r2.toSeq, "stored query is not deterministic")
    assert(r1.nonEmpty)
    assert(Snapshots.versions(VectorIndex.centroidsRoot(root)) == cv0 &&
      Snapshots.versions(VectorIndex.assignmentsRoot(root)) == av0,
      "querying the stored index committed a new version (retrained)")
    // plan shape: candidates scan is the index's partitioned snapshot,
    // pruned to the probed buckets; the corpus parquet never appears.
    // The answer comes back as a local frame, so the plans to inspect
    // are the ones the request executed.
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = executed.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      VectorIndex.ivfTopKStored(spark, root, queries, k = 3)
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val p = executed.asScala.mkString("\n")
    assert(p.contains("PartitionFilters") && p.contains("bucket"),
      s"assignments scan is not partition-pruned on bucket:\n$p")
    assert(!p.contains("embeddings.parquet"),
      s"stored query re-scanned the corpus:\n$p")
  }

  test("stored IVF result equals the inline trained-centroid search") {
    val root = freshRoot()
    VectorIndex.build(vecs, root, seedK = 8, iters = 2)
    val queries = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val stored = VectorIndex.ivfTopKStored(spark, root, queries, k = 3)
    val trained = Embeddings.lloyd(vecs, Embeddings.idSeeds(vecs, 8), 2)
    val trainedLong = trained.select(col("cid").as("label"),
        posexplode(col("cv")).as(Seq("pos", "centroid")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"), col("centroid"))
    val inline = Embeddings.ivfTopK(vecs, trainedLong, queryMaxId = 5L, k = 3)
    assert(stored.exceptAll(inline).count() == 0 &&
      inline.exceptAll(stored).count() == 0,
      "stored-index search diverged from the inline trained search")
  }

  test("idempotent rebuild: buildIfAbsent is a no-op; explicit rebuild versions forward") {
    val root = freshRoot()
    VectorIndex.buildIfAbsent(vecs, root)
    val v0 = Snapshots.latestVersion(VectorIndex.centroidsRoot(root)).get
    VectorIndex.buildIfAbsent(vecs, root) // retry: must not retrain
    assert(Snapshots.latestVersion(VectorIndex.centroidsRoot(root)).get == v0)
    val (cv1, _) = VectorIndex.build(vecs, root) // explicit rebuild
    assert(cv1 == v0 + 1)
    // the old version stays readable (time travel) after the rebuild
    val old = Snapshots.readVersion(spark, VectorIndex.centroidsRoot(root), v0)
    val neu = Snapshots.read(spark, VectorIndex.centroidsRoot(root))
    assert(old.count() > 0 && neu.count() > 0)
  }

  test("defaultRoot fingerprints the data: different corpus, different root") {
    val r1 = VectorIndex.defaultRoot(raw, 8, 2)
    val r2 = VectorIndex.defaultRoot(raw, 8, 2)
    assert(r1 == r2, "fingerprint not deterministic")
    val shifted = raw.withColumn("vec_id", col("vec_id") + 1L)
    assert(VectorIndex.defaultRoot(shifted, 8, 2) != r1,
      "different data mapped to the same index root")
    assert(VectorIndex.defaultRoot(raw, 8, 3) != r1,
      "different build params mapped to the same index root")
  }

  test("stored PQ: ADC over stored codes equals the inline q_ann_pq result") {
    val root = freshRoot()
    VectorIndex.buildPq(vecs, root)
    val v0 = Snapshots.latestVersion(VectorIndex.pqCodebookRoot(root)).get
    VectorIndex.buildPqIfAbsent(vecs, root) // retry: no retrain
    assert(Snapshots.latestVersion(VectorIndex.pqCodebookRoot(root)).get == v0)
    val queries = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v"))
    val stored = VectorIndex.adcTopKStored(spark, root, queries, k = 5)
    val inline = SparkEntry.queries("q_ann_pq")(spark, sf)
    assert(stored.exceptAll(inline).count() == 0 &&
      inline.exceptAll(stored).count() == 0,
      "stored-codes ADC diverged from the inline PQ search")
  }

  test("assignBatch: O(batch) delta append, idempotent per batchId, search sees the union") {
    val root = freshRoot()
    val isBatch = pmod(col("vec_id"), lit(10)) === 7
    val base = vecs.filter(!isBatch)
    val batch = vecs.filter(isBatch)
    VectorIndex.build(base, root, seedK = 8, iters = 2)
    val aroot = VectorIndex.assignmentsRoot(root)
    val v1 = VectorIndex.assignBatch(spark, root, batch, batchId = 0L)
    // batch-cost shape: the delta commit's own data dir holds ONLY the
    // batch's rows — the stored base corpus was not rewritten
    assert(Snapshots.isDelta(aroot, v1))
    assert(spark.read.parquet(s"$aroot/data/v=$v1").count() == batch.count())
    // idempotent re-apply: same batchId → same version, same rows
    assert(VectorIndex.assignBatch(spark, root, batch, batchId = 0L) == v1)
    assert(Snapshots.read(spark, aroot).count() == vecs.count())
    // the post-append search answers from base AND batch members, and
    // equals assigning ALL vectors against the base-trained centroids
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val got = VectorIndex.ivfTopKStored(spark, root, queries, k = 3)
    val cents = Snapshots.read(spark, VectorIndex.centroidsRoot(root))
    val allAssigned = VectorIndex.assignRowLocal(vecs, cents).drop("ccos")
    val stored = Snapshots.read(spark, aroot)
      .select(col("vec_id"), col("v"), col("bucket").cast("int").as("bucket"))
    assert(stored.exceptAll(allAssigned).count() == 0 &&
      allAssigned.exceptAll(stored).count() == 0,
      "post-append assignments diverged from assign-all-vs-base-centroids")
    assert(got.count() == 3 * queries.count())
  }

  test("encodeBatchPq: O(batch) delta codes, idempotent, ADC sees the union") {
    val root = freshRoot()
    val isBatch = pmod(col("vec_id"), lit(10)) === 7
    val base = vecs.filter(!isBatch)
    val batch = vecs.filter(isBatch)
    VectorIndex.buildPq(base, root)
    val croot = VectorIndex.pqCodesRoot(root)
    val v1 = VectorIndex.encodeBatchPq(spark, root, batch, batchId = 0L)
    // delta shape: the new version's dir holds only the batch's codes
    assert(Snapshots.isDelta(croot, v1))
    assert(spark.read.parquet(s"$croot/data/v=$v1").count() ==
      batch.count() * 8)
    // idempotent re-apply
    assert(VectorIndex.encodeBatchPq(spark, root, batch, batchId = 0L) == v1)
    // post-append codes equal encoding ALL vectors against the stored
    // codebook — batch members are first-class ADC candidates now
    val cb = Snapshots.read(spark, VectorIndex.pqCodebookRoot(root))
    val want = VectorIndex.encodePq(VectorIndex.subVectors(vecs), cb)
    val stored = Snapshots.read(spark, croot)
    assert(stored.exceptAll(want).count() == 0 &&
      want.exceptAll(stored).count() == 0,
      "post-append codes diverged from encode-all-vs-stored-codebook")
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v"))
    val got = VectorIndex.adcTopKStored(spark, root,
      queries.select(col("q_id"), col("v")), k = 3)
    assert(got.count() == 3 * queries.count())
  }

  test("assignDrift: batch mean vs the stored build-time baseline") {
    val root = freshRoot()
    val base = vecs.filter(pmod(col("vec_id"), lit(10)) =!= 7)
    val batch = vecs.filter(pmod(col("vec_id"), lit(10)) === 7)
    VectorIndex.build(base, root, seedK = 8, iters = 2)
    val row = VectorIndex.assignDrift(spark, root, batch).head()
    assert(row.getLong(row.fieldIndex("n_batch")) == batch.count())
    val b = row.getDouble(row.fieldIndex("mean_ccos_build"))
    val m = row.getDouble(row.fieldIndex("mean_ccos_batch"))
    val d = row.getDouble(row.fieldIndex("drift"))
    assert(math.abs(d - BigDecimal(b - m).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // a batch drawn from the SAME distribution sits near the baseline
    assert(math.abs(d) < 0.2, s"same-distribution drift unexpectedly large: $d")
    // drift on the base itself reproduces the baseline exactly (same
    // rows, same assignment rule)
    val self = VectorIndex.assignDrift(spark, root, base).head()
    assert(math.abs(self.getDouble(self.fieldIndex("drift"))) < 1e-6 + 1e-9)
  }

  test("row-local assignment: no join, no shuffle, equals the aggregate argmax") {
    val root = freshRoot()
    VectorIndex.build(vecs, root, seedK = 8, iters = 2)
    val cents = Snapshots.read(spark, VectorIndex.centroidsRoot(root))
    val assigned = VectorIndex.assignRowLocal(vecs, cents)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"row-local assignment shuffled or joined:\n$plan")
    // semantics: identical to the crossJoin + max_by aggregate shape
    // (6dp rounding, ties to lowest cid)
    val agg = vecs.crossJoin(broadcast(cents))
      .withColumn("ccos", round(Embeddings.cosine(col("v"), col("cv")), 6))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), col("v")),
        struct(col("ccos"), negate(col("cid")))).as("a"))
      .select(col("vec_id"), col("a.v").as("v"), col("a.cid").as("bucket"))
    val gotB = assigned.select(col("vec_id"), col("bucket"))
    val wantB = agg.select(col("vec_id"), col("bucket"))
    assert(gotB.exceptAll(wantB).count() == 0 &&
      wantB.exceptAll(gotB).count() == 0,
      "row-local argmax diverged from the aggregate argmax")
  }

  test("stored trained PQ: buildPqTrained artifacts equal the replayed training chain") {
    val root = freshRoot()
    VectorIndex.buildPqTrained(vecs, root, rounds = 2)
    val cb = Snapshots.read(spark, VectorIndex.pqCodebookRoot(root))
    val chain = VectorIndex.trainPqCodebook(vecs, 2)
    assert(cb.exceptAll(chain).count() == 0 &&
      chain.exceptAll(cb).count() == 0,
      "stored trained codebook diverged from the replayed chain")
    val codes = Snapshots.read(spark, VectorIndex.pqCodesRoot(root))
    val enc = VectorIndex.encodePq(VectorIndex.subVectors(vecs), chain)
    assert(codes.exceptAll(enc).count() == 0 &&
      enc.exceptAll(codes).count() == 0,
      "stored trained codes diverged from re-encoding")
    // the stored-query path answers from the trained artifacts as-is
    val queries = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v"))
    assert(VectorIndex.adcTopKStored(spark, root, queries, k = 5).count() == 15)
  }

  test("trained centroids do not hurt recall vs label seeding") {
    val trained = SparkEntry.queries("q_ivf_recall_trained")(spark, sf)
      .agg(avg(col("recall"))).head.getDouble(0)
    val seeded = SparkEntry.queries("q_ivf_recall")(spark, sf)
      .agg(avg(col("recall"))).head.getDouble(0)
    assert(trained >= seeded - 1e-9,
      s"trained recall $trained fell below label-seeded $seeded")
  }

  test("retrain-and-swap: atomic repoint, in-flight readers stay consistent, old root time-travelable") {
    val base = vecs.filter(pmod(col("vec_id"), lit(10)) =!= 7).localCheckpoint()
    val all = vecs.localCheckpoint()
    val root1 = freshRoot(); val root2 = freshRoot()
    val family = java.nio.file.Files.createTempDirectory("graft-vfam").toString
    VectorIndex.build(base, root1)
    VectorIndex.swapTo(family, root1)
    assert(VectorIndex.currentRoot(family).contains(root1))
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // an in-flight reader resolves the pointer ONCE, pre-swap
    val pinnedRoot = VectorIndex.currentRoot(family).get
    // the swap: retrain on ALL vectors under a new root, repoint
    VectorIndex.retrainSwap(all, root2, family)
    assert(VectorIndex.currentRoot(family).contains(root2), "pointer did not flip")
    // no partial pointer state left behind
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$family/_current.tmp")))
    // the pinned reader finishes against the OLD index — bit-identical
    // to a pre-swap evaluation (every artifact it touches is the old
    // root's immutable pair; nothing mixed in from the new index)
    val oldView = VectorIndex.ivfTopKStored(spark, pinnedRoot, queries, k = 3, nprobe = 2)
    val oldRef  = VectorIndex.ivfTopKStored(spark, root1, queries, k = 3, nprobe = 2)
    assert(oldView.exceptAll(oldRef).count() == 0 &&
      oldRef.exceptAll(oldView).count() == 0,
      "in-flight reader view diverged after the swap")
    // new readers answer from the retrained index: equals a direct
    // train-on-all build
    val root3 = freshRoot()
    VectorIndex.build(all, root3)
    val newView = VectorIndex.ivfTopKStored(spark,
      VectorIndex.currentRoot(family).get, queries, k = 3, nprobe = 2)
    val newRef = VectorIndex.ivfTopKStored(spark, root3, queries, k = 3, nprobe = 2)
    assert(newView.exceptAll(newRef).count() == 0 &&
      newRef.exceptAll(newView).count() == 0,
      "post-swap search diverged from a train-on-all build")
    // old root stays fully readable (time travel until retention lapses)
    assert(Snapshots.read(spark, VectorIndex.centroidsRoot(root1)).count() > 0)
    assert(Snapshots.read(spark, VectorIndex.assignmentsRoot(root1)).count() > 0)
    // retrainSwap is idempotent: a retried job re-trains nothing
    val cv = Snapshots.versions(VectorIndex.centroidsRoot(root2))
    VectorIndex.retrainSwap(all, root2, family)
    assert(Snapshots.versions(VectorIndex.centroidsRoot(root2)) == cv,
      "retried retrainSwap re-trained")
  }

  test("semProbeBatch: planted copies match at cos 1.0, day-2 matches day-1, replay-stable") {
    val root = freshRoot()
    val base = vecs.filter(pmod(col("vec_id"), lit(10)) =!= 7)
    VectorIndex.build(base, root, seedK = 8, iters = 2)
    // day 1: verbatim copies of % 10 == 2 base vectors under new ids
    val day1 = base.filter(pmod(col("vec_id"), lit(10)) === 2)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("v"))
      .localCheckpoint()
    val r1 = VectorIndex.semProbeBatch(spark, root, day1, tau = 0.95,
      batchId = 0L).localCheckpoint()
    // every copy matches its original exactly
    val exact = r1.filter(col("match_id") === col("new_id") - 1000000L &&
      col("cos") === 1.0)
    assert(exact.count() == day1.count(),
      "a planted copy missed its original at cos 1.0")
    // replay: no re-append, same matches (stored copies of the batch
    // are excluded from the corpus side)
    val av = Snapshots.versions(VectorIndex.assignmentsRoot(root))
    val r1b = VectorIndex.semProbeBatch(spark, root, day1, tau = 0.95,
      batchId = 0L)
    assert(Snapshots.versions(VectorIndex.assignmentsRoot(root)) == av,
      "replayed batch re-appended")
    assert(r1.exceptAll(r1b).count() == 0 && r1b.exceptAll(r1).count() == 0,
      "replay changed the match set")
    // day 2: copies of DAY-1 ids — caught only through the absorbed index
    val day2 = day1.select((col("vec_id") + 1000000L).as("vec_id"), col("v"))
    val r2 = VectorIndex.semProbeBatch(spark, root, day2, tau = 0.95,
      batchId = 1L)
    assert(r2.filter(col("match_id").between(1000000L, 1999999L) &&
      col("cos") === 1.0).count() >= day1.count(),
      "day-2 copies did not match day-1 through the absorbed index")
  }

  test("targeted delete: a deleted vector vanishes from IVF and ADC search") {
    import spark.implicits._
    val root = freshRoot()
    VectorIndex.build(vecs, root, seedK = 8, iters = 2)
    VectorIndex.buildPq(vecs, root)
    val queries = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v"))
    // delete the current top-1 IVF neighbor of query 0 — the strongest
    // possible candidate must vanish, not just some weak one
    val victim = VectorIndex.ivfTopKStored(spark, root,
        queries.withColumnRenamed("v", "qv"), k = 1, nprobe = 2)
      .filter(col("q_id") === 0L).select(col("n_id")).as[Long].head()
    VectorIndex.delete(spark, root, Seq(victim).toDF("vec_id"),
      batchId = Some(0L))
    val ivf = VectorIndex.ivfTopKStored(spark, root,
      queries.withColumnRenamed("v", "qv"), k = 3, nprobe = 2)
    val adc = VectorIndex.adcTopKStored(spark, root, queries, k = 3)
    assert(ivf.filter(col("n_id") === victim).count() == 0,
      "deleted vector still ranked by IVF search")
    assert(adc.filter(col("n_id") === victim).count() == 0,
      "deleted vector still ranked by ADC search")
    assert(ivf.count() == 3 * queries.count(), "IVF search lost coverage")
    // replayed delete no-ops; nightly compaction completes the forget
    val av = Snapshots.versions(VectorIndex.assignmentsRoot(root))
    VectorIndex.delete(spark, root, Seq(victim).toDF("vec_id"),
      batchId = Some(0L))
    assert(Snapshots.versions(VectorIndex.assignmentsRoot(root)) == av)
    VectorIndex.nightly(spark, root, keep = 0)
    val aroot = VectorIndex.assignmentsRoot(root)
    val latest = Snapshots.latestVersion(aroot).get
    assert(spark.read.option("basePath", s"$aroot/data/v=$latest")
      .parquet(s"$aroot/data/v=$latest")
      .filter(col("vec_id") === victim).count() == 0,
      "deleted bytes survived nightly forget")
  }

  test("nightly: every vector chain compacts invisibly, watermark survives, re-run free") {
    val root = freshRoot()
    val isBatch = pmod(col("vec_id"), lit(10)) === 7
    val base = vecs.filter(!isBatch)
    val batch = vecs.filter(isBatch)
    // grow BOTH delta chains a nightly job must maintain
    VectorIndex.build(base, root, seedK = 8, iters = 2)
    VectorIndex.buildPq(base, root)
    VectorIndex.assignBatch(spark, root, batch, batchId = 0L)
    VectorIndex.encodeBatchPq(spark, root, batch, batchId = 0L)
    val (aroot, croot) =
      (VectorIndex.assignmentsRoot(root), VectorIndex.pqCodesRoot(root))
    assert(Snapshots.isDelta(aroot, Snapshots.latestVersion(aroot).get))
    assert(Snapshots.isDelta(croot, Snapshots.latestVersion(croot).get))
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v"))
    val ivfBefore = VectorIndex.ivfTopKStored(spark, root,
      queries.withColumnRenamed("v", "qv"), k = 3, nprobe = 2).collect().toSet
    val adcBefore = VectorIndex.adcTopKStored(spark, root, queries, k = 3)
      .collect().toSet
    val m = VectorIndex.nightly(spark, root)
    // both grown chains compacted; full-commit-only roots untouched
    assert(m.compacted(aroot).nonEmpty && m.compacted(croot).nonEmpty)
    assert(m.compacted(VectorIndex.centroidsRoot(root)).isEmpty)
    assert(!Snapshots.isDelta(aroot, Snapshots.latestVersion(aroot).get))
    assert(!Snapshots.isDelta(croot, Snapshots.latestVersion(croot).get))
    // compaction is invisible to BOTH search paths
    val ivfAfter = VectorIndex.ivfTopKStored(spark, root,
      queries.withColumnRenamed("v", "qv"), k = 3, nprobe = 2).collect().toSet
    val adcAfter = VectorIndex.adcTopKStored(spark, root, queries, k = 3)
      .collect().toSet
    assert(ivfAfter == ivfBefore, "nightly changed the IVF answer")
    assert(adcAfter == adcBefore, "nightly changed the ADC answer")
    // the replay watermark survives compaction on both chains
    val (av, cvv) = (Snapshots.versions(aroot), Snapshots.versions(croot))
    VectorIndex.assignBatch(spark, root, batch, batchId = 0L)
    VectorIndex.encodeBatchPq(spark, root, batch, batchId = 0L)
    assert(Snapshots.versions(aroot) == av && Snapshots.versions(croot) == cvv,
      "re-delivered batch re-appended after nightly compaction")
    // re-running nightly is free: latest is full everywhere
    val m2 = VectorIndex.nightly(spark, root)
    assert(m2.compacted.values.forall(_.isEmpty), "nightly re-run recompacted")
  }

  test("SemDeDup k ∝ N: per-bucket occupancy stays flat under 16x corpus replication") {
    // the scaling recipe semProbeBatch's cost model rests on: probe
    // cost ∝ batch × per-bucket occupancy, so occupancy must NOT grow
    // with the corpus when k grows ∝ N (the retrainSwap pairing;
    // this pins the structural invariant behind the flat time curve)
    def rep(n: Int) = (0 until n).map(r =>
      vecs.select((col("vec_id") + r * 10000000L).as("vec_id"), col("v")))
      .reduce(_ unionByName _)
    def meanOcc(n: Int): Double = {
      val root = freshRoot()
      VectorIndex.build(rep(n), root, seedK = 8 * n, iters = 2)
      Snapshots.read(spark, VectorIndex.assignmentsRoot(root))
        .groupBy(col("bucket")).count()
        .agg(avg(col("count"))).head().getDouble(0)
    }
    val (o1, o16) = (meanOcc(1), meanOcc(16))
    assert(o16 <= o1 * 2.0,
      f"per-bucket occupancy grew under k ∝ N: $o1%.1f -> $o16%.1f at 16x")
  }

  test("q_embedding_week: a re-run replays every day as a no-op and returns the same frame") {
    // the pair ledger is landed exactly-once on the day clock — a
    // replayed day must NOT re-derive pairs against later days'
    // absorbed rows (the definition of week-scale replay stability)
    val r1 = SparkEntry.queries("q_embedding_week")(spark, sf).localCheckpoint()
    val r2 = SparkEntry.queries("q_embedding_week")(spark, sf)
    assert(r1.count() > 0)
    assert(r1.exceptAll(r2).count() == 0 && r2.exceptAll(r1).count() == 0,
      "re-running the week changed the output frame")
  }

  test("semProbeBatch on an empty batch: empty pairs with the contract schema, no delta committed") {
    val root = freshRoot()
    VectorIndex.build(vecs, root, seedK = 8, iters = 2)
    val before = Snapshots.versions(VectorIndex.assignmentsRoot(root))
    val out = VectorIndex.semProbeBatch(spark, root,
      vecs.filter(lit(false)), tau = 0.95, batchId = 5L)
    assert(out.columns.toSeq == Seq("new_id", "match_id", "cos"),
      s"empty-batch schema drifted: ${out.columns.mkString(",")}")
    assert(out.count() == 0)
    assert(Snapshots.versions(VectorIndex.assignmentsRoot(root)) == before,
      "empty batch committed a spurious delta version")
  }
}
