package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And,
  AttributeReference, BoundReference, Cast, EqualTo, Expression,
  GreaterThan, GreaterThanOrEqual, In, IsNull, LessThan, LessThanOrEqual,
  Literal, Or, Predicate, Year}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.{ByteType, DateType, DoubleType,
  FloatType, IntegerType, LongType, ShortType, StringType, StructType,
  TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.{AddFile, FilePruner, LakeTable, Snapshot}

/** Log-backed [[FileIndex]] for lake tables: the planner's
  * `listFiles(partitionFilters, dataFilters)` call is answered straight
  * from the transaction log's AddFile metadata — no filesystem listing,
  * no driver-side path materialization in the plan.
  *
  * This is where scan pruning happens for EVERY read path at scale:
  * partition filters drop whole files by their `partitionValues`, and
  * data filters drop files whose footer min/max range can't satisfy
  * them (data skipping), before Spark plans a single task. The round-1
  * design passed an explicit path list to the parquet reader
  * (reference behavior: S4, `ops:57-58`), which put every live file
  * path into the logical plan on the driver — correct, but O(files)
  * driver memory at millions of files. Here the plan holds one relation
  * and the file set stays metadata answered on demand.
  */
final class LakeFileIndex(spark: SparkSession, val snap: Snapshot)
    extends FileIndex {

  private val tableRoot = new Path(snap.log.tablePath)

  /** Partition schema in partition-column order, typed from the table
    * schema (partition values are stored as path strings in the log).
    */
  override val partitionSchema: StructType = {
    val byName = snap.schema.fields.map(f => f.name -> f).toMap
    StructType(snap.partitionColumns.map(byName(_)))
  }

  override def rootPaths: Seq[Path] = Seq(tableRoot)

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // 1. Data skipping on footer min/max stats from the log.
    val afterStats = FilePruner.pruneWithExpressions(snap, dataFilters)

    // 1b. Bucket pruning IN THE INDEX: equality (or a small IN) on
    //     every bucket column pins matching rows to known bucket ids,
    //     and every live file carries its id in the name — so the
    //     7/8ths of a bucketed table that cannot contain the key are
    //     dropped before Spark even builds splits. Done here rather
    //     than relying on Spark's scan-side SelectedBucketsCount
    //     because the planner disables the bucketed scan for plain
    //     filter queries (no operator wants the distribution) and
    //     loses its own pruning with it; the index prunes either way.
    val afterBuckets = pruneBuckets(afterStats, dataFilters)

    // 1c. Generated-column partition pruning (Delta's rule): a filter
    //     on the SOURCE column of a generated partition column
    //     implies a partition predicate the user never wrote.
    val allPartitionFilters =
      partitionFilters ++ derivedPartitionFilters(dataFilters)

    // 2. Exact partition pruning: evaluate the pushed partition
    //    predicates against each file's typed partition values.
    val survivors =
      if (allPartitionFilters.isEmpty || partitionSchema.isEmpty)
        afterBuckets
      else {
        val bound = allPartitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val idx = partitionSchema.fieldIndex(a.name)
            BoundReference(idx, partitionSchema(idx).dataType, nullable = true)
        }
        // the compiled form reads its constants by reference, so one
        // class serves every partition value of a filter's shape
        val predicate =
          Predicate.create(graft.plans.StableLiterals.stabilize(bound), Nil)
        predicate.initialize(0)
        afterBuckets.filter(f => predicate.eval(partitionRow(f)))
      }

    // 3. One PartitionDirectory per distinct partition tuple.
    if (partitionSchema.isEmpty) {
      Seq(PartitionDirectory(InternalRow.empty, survivors.map(statusOf)))
    } else {
      survivors.groupBy(_.partitionValues).map { case (_, files) =>
        PartitionDirectory(partitionRow(files.head), files.map(statusOf))
      }.toSeq
    }
  }

  /** The table's bucket spec, pruning-usable only when every live
    * file carries its bucket id (mixed/legacy tags could silently
    * drop rows whose file predates bucketing).
    */
  private lazy val bucketSpecForPruning: Option[(Seq[String], Int)] =
    LakeTable.bucketSpecOf(snap.metadata.properties)
      .filter(_ => snap.allFilesBucketTagged)

  /** Drop files whose bucket id cannot hold any row matching the
    * pushed filters. Requires an equality (or a small IN) conjunct on
    * EVERY bucket column with a literal of the column's exact type —
    * the id is Spark's own bucket hash of those literals, the same
    * `HashPartitioning.partitionIdExpression` the staging write
    * evaluated, so write and prune can never disagree. Conservative
    * on anything else (type mismatch, ranges, ORs, too many
    * combinations): returns the input unchanged.
    */
  private def pruneBuckets(files: Seq[AddFile],
      dataFilters: Seq[Expression]): Seq[AddFile] =
    bucketSpecForPruning match {
      case Some((cols, n)) if dataFilters.nonEmpty =>
        def conj(e: Expression): Seq[Expression] = e match {
          case And(l, r) => conj(l) ++ conj(r)
          case o => Seq(o)
        }
        val flat = dataFilters.flatMap(conj)
        val typeOf = snap.schema.fields.map(f => f.name -> f.dataType).toMap
        val candidates: Seq[Option[Seq[Literal]]] = cols.map { c =>
          val want = typeOf.get(c)
          flat.collectFirst {
            case EqualTo(a: AttributeReference, l: Literal)
                if a.name.equalsIgnoreCase(c) && l.value != null &&
                  want.contains(l.dataType) => Seq(l)
            case EqualTo(l: Literal, a: AttributeReference)
                if a.name.equalsIgnoreCase(c) && l.value != null &&
                  want.contains(l.dataType) => Seq(l)
            case In(a: AttributeReference, vs)
                if a.name.equalsIgnoreCase(c) && vs.nonEmpty &&
                  vs.size <= 16 && vs.forall {
                    case l: Literal =>
                      l.value != null && want.contains(l.dataType)
                    case _ => false
                  } => vs.map(_.asInstanceOf[Literal])
          }
        }
        if (candidates.exists(_.isEmpty)) files
        else {
          val combos = candidates.map(_.get)
            .foldLeft(Seq(Seq.empty[Literal])) { (acc, vs) =>
              for (a <- acc; v <- vs) yield a :+ v
            }
          if (combos.size > 64) files // IN-product blowup: skip
          else {
            val keep = combos.map { lits =>
              org.apache.spark.sql.catalyst.plans.physical
                .HashPartitioning(lits, n)
                .partitionIdExpression.eval(InternalRow.empty)
                .asInstanceOf[Int]
            }.toSet
            files.filter { f =>
              org.apache.spark.sql.execution.datasources.BucketingUtils
                .getBucketId(new java.io.File(f.path).getName)
                .forall(keep.contains)
            }
          }
        }
      case _ => files
    }

  /** Generated PARTITION columns with a single-source generation
    * expression, resolved once per index:
    * (partition column name, source column name, resolved expr whose
    * only attribute is the source). Resolution analyzes the stored
    * SQL against an empty frame of the table schema — the same
    * semantics the writer used to COMPUTE the column, so a derived
    * predicate can never disagree with the stored values.
    */
  private lazy val generatedPartitionSources
      : Seq[(String, String, Expression)] = {
    val partCols = snap.partitionColumns.toSet
    val gens = LakeTable.generatedColumns(snap.metadata.properties)
      .filter { case (name, _) => partCols.contains(name) }
    if (gens.isEmpty) Nil
    else {
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), snap.schema)
      gens.toSeq.flatMap { case (name, genSql) =>
        try {
          val analyzed = empty
            .select(org.apache.spark.sql.functions.expr(genSql))
            .queryExecution.analyzed
          val resolved = analyzed match {
            case Project(Seq(a: Alias), _) => a.child
            case Project(Seq(e), _) => e
            case _ => null
          }
          val refs = Option(resolved).toSeq
            .flatMap(_.references.toSeq.map(_.name)).distinct
          refs match {
            case Seq(src)
              if resolved.deterministic && !partCols.contains(src) &&
                resolved.dataType == partitionSchema(name).dataType =>
              Seq((name, src, resolved))
            case _ => Nil
          }
        } catch { case _: Exception => Nil } // unparseable: no pruning
      }
    }
  }

  /** g(lit): evaluate the generation expression with its source
    * attribute replaced by the literal. None when evaluation fails or
    * yields null (conservative: derive nothing).
    */
  private def genAt(gen: Expression, l: Literal): Option[Literal] =
    try {
      val bound = gen.transform { case _: AttributeReference => l }
      Option(bound.eval(InternalRow.empty))
        .map(Literal.create(_, gen.dataType))
    } catch { case _: Exception => None }

  /** Monotone (non-decreasing) generation shapes, where a RANGE on
    * the source implies a range on the partition value: identity,
    * datetime-to-date/timestamp casts, year(), and the date/timestamp
    * truncations (all floors). Equality/IN derivations don't need
    * this — any deterministic g maps src = v to p = g(v).
    *
    * Deliberately NOT monotone: string→datetime casts (the source
    * ordering is lexicographic, so '2020-1-5' < '2020-09-1' yet parses
    * to a later date — a range on the string implies nothing about the
    * parsed value), narrowing integral casts (wraparound: cast(2^32+5
    * as int) = 5 inverts the order), and fractional→integral casts
    * (kept out conservatively; only exact or round-to-nearest widening
    * conversions qualify).
    */
  private def monotone(e: Expression): Boolean = e match {
    case _: AttributeReference => true
    case c: Cast =>
      val ok = (c.child.dataType, c.dataType) match {
        case (TimestampType | TimestampNTZType | DateType,
          DateType | TimestampType | TimestampNTZType) => true
        case (s @ (ByteType | ShortType | IntegerType | LongType),
          t @ (ByteType | ShortType | IntegerType | LongType)) =>
          t.defaultSize >= s.defaultSize // widening only, no wraparound
        case (ByteType | ShortType | IntegerType | LongType | FloatType,
          DoubleType) => true
        case (ByteType | ShortType | IntegerType | LongType,
          FloatType) => true // round-to-nearest is weakly monotone
        case _ => false
      }
      ok && monotone(c.child)
    case Year(c) => monotone(c)
    case t: org.apache.spark.sql.catalyst.expressions.TruncDate =>
      t.format.foldable && monotone(t.date)
    case t: org.apache.spark.sql.catalyst.expressions.TruncTimestamp =>
      t.format.foldable && monotone(t.timestamp)
    case _ => false
  }

  /** Partition predicates implied by `dataFilters` through generated
    * partition columns: for `p = g(src)`, `src = v` → `p = g(v)`
    * (and IN likewise); with monotone g, `src >/>= v` → `p >= g(v)`
    * and `src </<= v` → `p <= g(v)` (bounds stay closed — g
    * collapses ranges, so the endpoint partition may still hold
    * matching rows). Comparisons survive Catalyst in either operand
    * order. Purely additive: every derived predicate is implied by a
    * data filter Spark re-evaluates above the scan anyway.
    */
  private def derivedPartitionFilters(
      dataFilters: Seq[Expression]): Seq[Expression] = {
    if (generatedPartitionSources.isEmpty) return Nil
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val flat = dataFilters.flatMap(conjuncts)
    generatedPartitionSources.flatMap { case (pName, srcName, gen) =>
      val pAttr = AttributeReference(
        pName, partitionSchema(pName).dataType, nullable = true)()
      def at(l: Literal): Option[Literal] = genAt(gen, l)
      // Range derivations must keep the null partition: `src > v`
      // implies `g(src) >= g(v)` only when g(src) is non-null — if the
      // generation expression nulled out for a stored row (overflow,
      // bad trunc format), that row lives in the null partition and
      // the implication does not hold, so an unguarded range predicate
      // would silently drop matching rows. Equality/IN need no guard:
      // src = v gives p = g(v) exactly (g deterministic), non-null.
      def ranged(cmp: Expression): Expression = Or(IsNull(pAttr), cmp)
      flat.flatMap {
        case EqualTo(a: AttributeReference, l: Literal)
          if a.name == srcName => at(l).map(EqualTo(pAttr, _))
        case EqualTo(l: Literal, a: AttributeReference)
          if a.name == srcName => at(l).map(EqualTo(pAttr, _))
        case In(a: AttributeReference, vs)
          if a.name == srcName && vs.nonEmpty &&
            vs.forall(_.isInstanceOf[Literal]) =>
          val mapped = vs.map(v => at(v.asInstanceOf[Literal]))
          if (mapped.forall(_.isDefined)) Some(In(pAttr, mapped.flatten))
          else None
        case GreaterThan(a: AttributeReference, l: Literal)
          if a.name == srcName && monotone(gen) =>
          at(l).map(v => ranged(GreaterThanOrEqual(pAttr, v)))
        case GreaterThanOrEqual(a: AttributeReference, l: Literal)
          if a.name == srcName && monotone(gen) =>
          at(l).map(v => ranged(GreaterThanOrEqual(pAttr, v)))
        case LessThan(a: AttributeReference, l: Literal)
          if a.name == srcName && monotone(gen) =>
          at(l).map(v => ranged(LessThanOrEqual(pAttr, v)))
        case LessThanOrEqual(a: AttributeReference, l: Literal)
          if a.name == srcName && monotone(gen) =>
          at(l).map(v => ranged(LessThanOrEqual(pAttr, v)))
        // literal-on-the-left comparisons: flip the direction
        case GreaterThan(l: Literal, a: AttributeReference)
          if a.name == srcName && monotone(gen) =>
          at(l).map(v => ranged(LessThanOrEqual(pAttr, v)))
        case GreaterThanOrEqual(l: Literal, a: AttributeReference)
          if a.name == srcName && monotone(gen) =>
          at(l).map(v => ranged(LessThanOrEqual(pAttr, v)))
        case LessThan(l: Literal, a: AttributeReference)
          if a.name == srcName && monotone(gen) =>
          at(l).map(v => ranged(GreaterThanOrEqual(pAttr, v)))
        case LessThanOrEqual(l: Literal, a: AttributeReference)
          if a.name == srcName && monotone(gen) =>
          at(l).map(v => ranged(GreaterThanOrEqual(pAttr, v)))
        case _ => None
      }
    }
  }

  /** Typed internal row of a file's partition values (Hive null
    * sentinel → null; strings stay UTF8String via Cast's internal
    * representation).
    */
  private def partitionRow(f: AddFile): InternalRow = {
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    InternalRow.fromSeq(partitionSchema.fields.toSeq.map { field =>
      f.partitionValues.get(field.name) match {
        case None | Some(null) | Some(LakeFileIndex.HIVE_NULL) => null
        case Some(v) =>
          Cast(Literal(UTF8String.fromString(v), StringType),
            field.dataType, tz, ansiEnabled = false).eval(null)
      }
    })
  }

  private def statusOf(f: AddFile): FileStatusWithMetadata =
    FileStatusWithMetadata(new FileStatus(
      f.size, false, 1, 128L * 1024 * 1024, 0L,
      new Path(graft.lake.LakeLog
        .resolveFile(snap.log.tablePath, f.path).toString)))

  override def inputFiles: Array[String] =
    snap.files.map(f => graft.lake.LakeLog
      .resolveFile(snap.log.tablePath, f.path).toString).toArray

  override def refresh(): Unit = () // snapshots are immutable

  override def sizeInBytes: Long = snap.sizeInBytes
}

object LakeFileIndex {
  /** Spark/Hive's escape value for a null partition value in a path —
    * ONE definition, aliased from the writer: the scan path and the
    * metadata-aggregate rewrite must never disagree on what a null
    * partition looks like.
    */
  val HIVE_NULL: String = graft.lake.LakeWriter.HIVE_NULL
}
