package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Direct DRIVER-SIDE parquet I/O for the tiny committed artifacts of
  * the persisted-index family — meta/stats markers (one scalar row),
  * trained models (sqmodel/codebook: one row with double arrays) and
  * centroid tables (nCells small rows). Optimization r19 (VERDICT r18
  * next-round #1): every lifecycle step (build/save/append/compact/
  * load/query) paid 2-4 SEQUENTIAL small Spark jobs just to read or
  * commit these — `spark.read.parquet(dir).head()` is a listing +
  * schema-inference footer read + a scheduled one-task job, ~100 ms of
  * pure driver latency per call at ANY data scale, since the artifacts
  * are kilobytes by construction. Reading the one part-file's pages
  * through parquet-hadoop's column IO on the driver gives the same
  * rows with zero jobs.
  *
  * NOT a cache: every call opens and reads the actual bytes under the
  * directory, so CAS re-reads ([[IvfIndex.commitMetaCas]]) remain
  * genuine re-reads — a concurrent writer's swap is observed exactly
  * as it would be by a fresh Spark scan. Commit detection stays with
  * the callers ([[MetaSwap.committed]] / `committedParquetExists`);
  * this object only moves WHICH process reads the committed bytes.
  *
  * Type coverage is exactly the family's pinned artifact schemas:
  * boolean/int/long/float/double/string scalars plus array<double>
  * style lists (Spark's 3-level LIST layout). Anything else throws
  * loudly — these schemas are spec-pinned, so an unsupported type here
  * is a layout change that must be looked at, not silently degraded. */
private[graft] object MetaIo {

  private def hconf(spark: org.apache.spark.sql.SparkSession) =
    spark.sparkContext.hadoopConfiguration

  /** The committed data files of a small artifact dir, name-sorted
    * (saves write these with coalesce(1), so normally exactly one). */
  private def partFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf(spark))
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-")
        && !s.getPath.getName.endsWith(".crc"))
      .map(_.getPath).sortBy(_.getName)
  }

  private def toSparkType(t: Type): DataType = t match {
    case p: PrimitiveType => p.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 => IntegerType
      case PrimitiveTypeName.INT64 => LongType
      case PrimitiveTypeName.DOUBLE => DoubleType
      case PrimitiveTypeName.FLOAT => FloatType
      case PrimitiveTypeName.BOOLEAN => BooleanType
      case PrimitiveTypeName.BINARY
        if p.getLogicalTypeAnnotation ==
          LogicalTypeAnnotation.stringType() => StringType
      case other => throw new IllegalStateException(
        s"MetaIo: unsupported primitive $other in artifact field " +
          s"'${t.getName}' - the artifact schemas are pinned, extend " +
          "MetaIo if a layout change added this type")
    }
    case g: GroupType
      if g.getLogicalTypeAnnotation == LogicalTypeAnnotation.listType()
        && g.getFieldCount == 1 && g.getType(0).isRepetition(
          Type.Repetition.REPEATED) =>
      val rep = g.getType(0).asGroupType()
      ArrayType(toSparkType(rep.getType(0)),
        containsNull = !rep.getType(0).isRepetition(Type.Repetition.REQUIRED))
    case other => throw new IllegalStateException(
      s"MetaIo: unsupported group field '${other.getName}' - the " +
        "artifact schemas are pinned, extend MetaIo for this layout")
  }

  private def toSparkSchema(mt: MessageType): StructType =
    StructType(mt.getFields.asScala.toSeq.map(f =>
      StructField(f.getName, toSparkType(f),
        nullable = !f.isRepetition(Type.Repetition.REQUIRED))))

  private def primValue(g: Group, field: Int, idx: Int,
      t: PrimitiveType): Any = t.getPrimitiveTypeName match {
    case PrimitiveTypeName.INT32 => g.getInteger(field, idx)
    case PrimitiveTypeName.INT64 => g.getLong(field, idx)
    case PrimitiveTypeName.DOUBLE => g.getDouble(field, idx)
    case PrimitiveTypeName.FLOAT => g.getFloat(field, idx)
    case PrimitiveTypeName.BOOLEAN => g.getBoolean(field, idx)
    case PrimitiveTypeName.BINARY => g.getString(field, idx)
    case other => throw new IllegalStateException(
      s"MetaIo: unsupported primitive $other")
  }

  private def fieldValue(g: Group, field: Int): Any = {
    val t = g.getType.getType(field)
    if (g.getFieldRepetitionCount(field) == 0) null
    else t match {
      case p: PrimitiveType => primValue(g, field, 0, p)
      case _: GroupType => // 3-level LIST: outer { repeated list { element } }
        val outer = g.getGroup(field, 0)
        val n = outer.getFieldRepetitionCount(0)
        val elemT = outer.getType.getType(0).asGroupType().getType(0)
        (0 until n).map { i =>
          val e = outer.getGroup(0, i)
          if (e.getFieldRepetitionCount(0) == 0) null
          else primValue(e, 0, 0, elemT.asPrimitiveType())
        }
    }
  }

  /** Read EVERY row of a small committed parquet dir on the driver —
    * no Spark job, no InMemoryFileIndex, one footer read per part
    * file. Returns the rows with a Spark schema so name-based field
    * reads (`fieldIndex`/`getAs`) behave exactly as on
    * `spark.read.parquet(dir).collect()`. */
  def readRows(spark: org.apache.spark.sql.SparkSession,
      dir: String): (StructType, Seq[Row]) = {
    val conf = hconf(spark)
    var schema: StructType = null
    val rows = Seq.newBuilder[Row]
    partFiles(spark, dir).foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val mt = reader.getFooter.getFileMetaData.getSchema
        if (schema == null) {
          // Spark embeds its exact schema (names, nullability) in the
          // footer; prefer it so the returned rows grade identically
          // to spark.read.parquet(dir) — fall back to converting the
          // parquet MessageType (our own direct-written metas)
          val kv = reader.getFooter.getFileMetaData.getKeyValueMetaData
          schema = Option(kv.get("org.apache.spark.sql.parquet.row.metadata"))
            .flatMap(j => scala.util.Try(
              DataType.fromJson(j).asInstanceOf[StructType]).toOption)
            .getOrElse(toSparkSchema(mt))
        }
        val colIo = new ColumnIOFactory().getColumnIO(mt)
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val rr = colIo.getRecordReader(pages, new GroupRecordConverter(mt))
          var i = 0L
          while (i < pages.getRowCount) {
            val g = rr.read()
            rows += new GenericRowWithSchema(
              (0 until mt.getFieldCount).map(fieldValue(g, _)).toArray, schema)
            i += 1
          }
          pages = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
    require(schema != null, s"MetaIo: no part files under '$dir'")
    (schema, rows.result())
  }

  /** First row of a committed single-row artifact (the meta/stats
    * markers and trained-model rows) — the `.head()` replacement. */
  def readHead(spark: org.apache.spark.sql.SparkSession, dir: String): Row = {
    val (_, rows) = readRows(spark, dir)
    require(rows.nonEmpty, s"MetaIo: artifact dir '$dir' holds no rows")
    rows.head
  }

  /** True when the direct writer handles every field (scalar-only
    * schemas — the meta/stats markers; model rows with arrays keep the
    * Spark write path). */
  def scalarOnly(schema: StructType): Boolean =
    schema.fields.forall(_.dataType match {
      case IntegerType | LongType | DoubleType | FloatType | BooleanType
        | StringType => true
      case _ => false
    })

  private def toParquetSchema(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val rep = if (f.nullable) Type.Repetition.OPTIONAL
        else Type.Repetition.REQUIRED
      val t = f.dataType match {
        case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep)
        case LongType => Types.primitive(PrimitiveTypeName.INT64, rep)
        case DoubleType => Types.primitive(PrimitiveTypeName.DOUBLE, rep)
        case FloatType => Types.primitive(PrimitiveTypeName.FLOAT, rep)
        case BooleanType => Types.primitive(PrimitiveTypeName.BOOLEAN, rep)
        case StringType => Types.primitive(PrimitiveTypeName.BINARY, rep)
          .as(LogicalTypeAnnotation.stringType())
        case other => throw new IllegalStateException(
          s"MetaIo: direct writer does not handle $other (field " +
            s"'${f.name}') - use the Spark write path")
      }
      b.addField(t.named(f.name))
    }
    b.named("spark_schema")
  }

  /** Write scalar rows as ONE parquet part file plus the `_SUCCESS`
    * job-commit marker, entirely on the driver — the
    * `coalesce(1).write.parquet(dir)` replacement for the single-row
    * meta commits (a full Spark write job + commit protocol per meta
    * rewrite, 4-5 of them per lifecycle gate). The layout readers see
    * is identical: a fresh dir, part file(s), `_SUCCESS` last — so
    * [[Similarity.committedParquetExists]] grades it exactly as a
    * Spark write, and a crash before `_SUCCESS` grades uncommitted.
    *
    * The rows are written under the hidden [[tmpPartName]] and renamed
    * to the part-file name only once the file is complete (ADVICE r19:
    * with success markers disabled, part-file presence IS the commit
    * signal, so a part file torn by a crash mid-write graded committed
    * and [[MetaSwap]]'s heal would promote it over the standing meta). */
  def writeRows(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: StructType, rows: Seq[Row]): Unit = {
    val conf = hconf(spark)
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    fs.mkdirs(p)
    val mt = toParquetSchema(schema)
    val tmp = new Path(p, tmpPartName)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(mt)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build(): ParquetWriter[Group]
    try {
      val gf = new SimpleGroupFactory(mt)
      rows.foreach { r =>
        val g = gf.newGroup()
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          if (!r.isNullAt(i)) f.dataType match {
            case IntegerType => g.append(f.name, r.getInt(i))
            case LongType => g.append(f.name, r.getLong(i))
            case DoubleType => g.append(f.name, r.getDouble(i))
            case FloatType => g.append(f.name, r.getFloat(i))
            case BooleanType => g.append(f.name, r.getBoolean(i))
            case StringType => g.append(f.name, r.getString(i))
            case other => throw new IllegalStateException(
              s"MetaIo: unsupported $other")
          }
        }
        w.write(g)
      }
    } finally w.close()
    if (!fs.rename(tmp, new Path(p, "part-00000-metaio.snappy.parquet")))
      throw new java.io.IOException(s"MetaIo: rename of '$tmp' failed")
    // job-commit marker LAST (the committedParquetExists contract)
    fs.create(new Path(p, "_SUCCESS"), true).close()
    ()
  }

  /** The in-progress name of [[writeRows]]' part file: dot-prefixed, so
    * Spark's file listing, [[partFiles]] and
    * [[Similarity.committedParquetExists]] all ignore it. */
  private[graft] val tmpPartName = ".part-00000-metaio.snappy.parquet.tmp"
}
