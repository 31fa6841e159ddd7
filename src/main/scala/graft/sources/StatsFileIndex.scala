package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, InMemoryFileIndex, NoopCache, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.Bound
import graft.sources.FileStats.{ColRange, FileStat}

/** PLANNER-INTEGRATED data skipping for [[Snapshots]] tables — the
  * [[FileIndex]] that makes a PLAIN `Snapshots.read(root).filter(...)`
  * prune files from the per-version stats sidecars, with no explicit
  * [[Snapshots.readPruned]] call: Catalyst pushes the query's data
  * filters down to the scan, `FileSourceScanExec` hands them to
  * [[listFiles]], and this index intersects them with the sidecar's
  * per-file min/max before a single footer is opened. This is the
  * Delta/Iceberg mechanism (a log-backed file index serving pruned
  * file lists through the planner's own seam) replacing the manual
  * `ColRange` side door — every consumer, including ad-hoc analytics
  * that never heard of the sidecars, skips for free.
  *
  * Correctness never rests on the prune: translation is conservative
  * (untranslatable predicates constrain nothing; a file absent from
  * the sidecar is kept), pruning is file-granular, and Spark always
  * re-applies the full `Filter` row-level above the scan — the same
  * honesty contract as [[FileStats.survives]], now enforced by the
  * planner itself.
  *
  * At 100 TB: a range query on a clustered stats-committed table
  * lists O(files intersecting the range) — the file LIST shrinks
  * before partition reading/footers/row groups are ever touched,
  * which parquet row-group stats alone cannot do once the planner has
  * already enumerated every file.
  */
final class StatsFileIndex(
    delegate: InMemoryFileIndex,
    dirPath: String,
    byPath: Map[String, FileStat]) extends FileIndex {

  override def rootPaths: Seq[Path] = delegate.rootPaths
  override def partitionSchema = delegate.partitionSchema
  override def sizeInBytes: Long = delegate.sizeInBytes
  override def inputFiles: Array[String] = delegate.inputFiles
  override def refresh(): Unit = delegate.refresh()
  override def metadataOpsTimeNs: Option[Long] = delegate.metadataOpsTimeNs

  /** Path of a listed file RELATIVE to the version dir — the key the
    * sidecar recorded (hive partition subdirs included). */
  private def rel(p: Path): String = {
    val u = p.toUri.getPath
    if (u.startsWith(dirPath + "/")) u.substring(dirPath.length + 1) else u
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // partition pruning is the delegate's (hive dirs); stats skipping
    // layers on top of whatever survives it
    val dirs = delegate.listFiles(partitionFilters, dataFilters)
    val ranges = StatsFileIndex.rangesOf(dataFilters)
    if (ranges.isEmpty) dirs
    else {
      val total = dirs.iterator.map(_.files.size).sum
      val pruned = dirs
        .map(pd => pd.copy(files = pd.files.filter { f =>
          byPath.get(rel(f.getPath)) match {
            case Some(st) => FileStats.survives(st, ranges)
            case None     => true // not in the sidecar: kept-by-default
          }
        }))
        .filter(_.files.nonEmpty)
      StatsFileIndex.pruneLog.put(dirPath,
        (pruned.iterator.map(_.files.size).sum, total))
      pruned
    }
  }
}

object StatsFileIndex {

  /** Observability: last (files kept, files total) a stats-pruned
    * listing produced, keyed by version-dir path — what
    * StatsSkippingSpec asserts the planner path on (the prunedFileCount
    * analogue for plan-pushed filters). Bounded: one entry per live
    * version dir read this JVM. */
  private[graft] val pruneLog =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()

  /** Scan ONE version dir through the stats-backed index: the same
    * frame `spark.read.parquet(dir)` yields (schema, partition
    * columns, pushdown), but with the sidecar consulted at file-list
    * time. Built on the public lower-level seam
    * ([[InMemoryFileIndex]] + [[HadoopFsRelation]]) because
    * `DataFrameReader` offers no file-index injection point. */
  def scan(spark: SparkSession, dir: String, stats: Seq[FileStat],
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val opts = Map("basePath" -> dir)
    // NoopCache: version dirs are immutable while live, but rollback-
    // then-recommit REUSES `data/v=N` paths — a shared listing cache
    // would serve the dead timeline's files for the recreated dir
    val delegate = new InMemoryFileIndex(spark, Seq(new Path(dir)), opts,
      userSpecifiedSchema = None, fileStatusCache = NoopCache)
    val fmt = new ParquetFileFormat
    // caller-supplied RESOLVED schema (Snapshots' per-commit cache)
    // skips the footer-read inference; partition columns are the
    // delegate's, so they are subtracted from the full table schema
    val dataSchema0 = dataSchema
      .map(s => org.apache.spark.sql.types.StructType(
        s.filterNot(f => delegate.partitionSchema.fieldNames.contains(f.name))))
      .getOrElse(fmt
        .inferSchema(spark, opts, delegate.allFiles())
        .getOrElse(throw new IllegalStateException(
          s"no parquet schema inferable under $dir")))
    val byPath = stats.map(f => f.path -> f).toMap
    val index = new StatsFileIndex(delegate,
      new Path(dir).toUri.getPath, byPath)
    spark.baseRelationToDataFrame(HadoopFsRelation(index,
      delegate.partitionSchema, dataSchema0, None, fmt, opts)(spark))
  }

  /** Conservative translation of pushed-down Catalyst data filters
    * into sidecar range predicates: conjuncts over
    * `attr {=, <, <=, >, >=} literal` (either operand order) and
    * IN-lists become inclusive [[ColRange]] bounds (a
    * [[graft.plans.Bound]] counts as a literal); anything else —
    * casts, functions, OR trees, null checks — constrains NOTHING
    * (the file is kept), so an untranslatable predicate can only cost
    * performance, never rows. Strict bounds are widened to inclusive:
    * file-granular pruning cannot use openness, and the row-level
    * filter above the scan restores it. */
  private[graft] def rangesOf(filters: Seq[Expression]): Seq[ColRange] = {
    def conv(v: Any): Option[Any] = v match {
      case null           => None
      case i: Int         => Some(i.toLong)
      case l: Long        => Some(l)
      case s: Short       => Some(s.toLong)
      case b: Byte        => Some(b.toLong)
      case f: Float       => Some(f.toDouble)
      case d: Double      => Some(d)
      case u: UTF8String  => Some(u.toString)
      case _              => None // decimal/interval/binary: no sidecar type
    }
    // a Bound is a literal that generated code reads by reference
    object Const {
      def unapply(e: Expression): Option[Any] = e match {
        case Literal(v, _) => Some(v)
        case Bound(v, _) => Some(v)
        case _ => None
      }
    }
    def one(e: Expression): Seq[ColRange] = e match {
      case And(l, r) => one(l) ++ one(r)
      case EqualTo(a: Attribute, Const(v)) =>
        conv(v).map(x => ColRange(a.name, Some(x), Some(x))).toSeq
      case EqualTo(Const(v), a: Attribute) =>
        conv(v).map(x => ColRange(a.name, Some(x), Some(x))).toSeq
      case EqualNullSafe(a: Attribute, Const(v)) if v != null =>
        conv(v).map(x => ColRange(a.name, Some(x), Some(x))).toSeq
      case EqualNullSafe(Const(v), a: Attribute) if v != null =>
        conv(v).map(x => ColRange(a.name, Some(x), Some(x))).toSeq
      case GreaterThan(a: Attribute, Const(v)) =>
        conv(v).map(x => ColRange(a.name, lower = Some(x))).toSeq
      case GreaterThanOrEqual(a: Attribute, Const(v)) =>
        conv(v).map(x => ColRange(a.name, lower = Some(x))).toSeq
      case LessThan(a: Attribute, Const(v)) =>
        conv(v).map(x => ColRange(a.name, upper = Some(x))).toSeq
      case LessThanOrEqual(a: Attribute, Const(v)) =>
        conv(v).map(x => ColRange(a.name, upper = Some(x))).toSeq
      // literal-first comparisons flip the bound side
      case GreaterThan(Const(v), a: Attribute) =>
        conv(v).map(x => ColRange(a.name, upper = Some(x))).toSeq
      case GreaterThanOrEqual(Const(v), a: Attribute) =>
        conv(v).map(x => ColRange(a.name, upper = Some(x))).toSeq
      case LessThan(Const(v), a: Attribute) =>
        conv(v).map(x => ColRange(a.name, lower = Some(x))).toSeq
      case LessThanOrEqual(Const(v), a: Attribute) =>
        conv(v).map(x => ColRange(a.name, lower = Some(x))).toSeq
      // IN-list: the [min, max] envelope of the values — coarser than
      // the set but file-granular pruning can only use an envelope
      // anyway. All-or-nothing per list: one untranslatable value
      // voids the whole envelope (a partial envelope could exclude
      // files holding the missed value).
      case In(a: Attribute, vs) if vs.nonEmpty &&
          vs.forall(Const.unapply(_).nonEmpty) =>
        envelope(a.name, vs.flatMap(Const.unapply).flatMap(conv(_)),
          vs.size)
      case InSet(a: Attribute, vs) if vs.nonEmpty =>
        envelope(a.name, vs.toSeq.flatMap(conv(_)), vs.size)
      case _ => Seq.empty
    }
    def envelope(name: String, converted: Seq[Any], expected: Int): Seq[ColRange] =
      if (converted.size != expected) Seq.empty
      else {
        val lo = converted.reduce((x, y) => if (ltAny(x, y)) x else y)
        val hi = converted.reduce((x, y) => if (ltAny(x, y)) y else x)
        Seq(ColRange(name, Some(lo), Some(hi)))
      }
    filters.flatMap(one)
  }

  /** Value ordering for the IN envelope — mirrors the comparator
    * [[FileStats.survives]] prunes with (numeric via BigDecimal,
    * strings in UTF-8 byte order), so the envelope bounds are the
    * exact ones the prune will test. Mixed numeric/string lists
    * cannot reach here: analysis types a literal list uniformly. */
  private def ltAny(x: Any, y: Any): Boolean = (x, y) match {
    case (a: String, b: String) => FileStats.utf8Cmp(a, b) < 0
    case _ => BigDecimal(x.toString) < BigDecimal(y.toString)
  }
}
