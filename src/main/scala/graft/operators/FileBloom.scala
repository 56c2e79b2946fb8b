package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Per-file BLOOM-FILTER sidecars for the manifest protocol (round 15) —
  * the point-lookup half of file skipping, complementing `_stats.tsv`
  * min/max ranges: on an UNSORTED high-cardinality column every file's
  * [min, max] spans the whole domain and range stats prune NOTHING, while
  * a per-file bloom filter answers "could this file contain key = v?" in
  * O(k) bit probes — the Delta/Iceberg bloom-index feature, here at FILE
  * granularity (skip opening the file at all), one level above parquet's
  * own row-group blooms.
  *
  * Build is fully distributed and scale-safe: one pass over the batch
  * grouped by physical file; the per-(file, column) bitmap accumulates in
  * a typed [[Aggregator]] (fixed `mBits/8` bytes of state per group —
  * never a collected value set), and only the finished bitmaps (m/8 bytes
  * per file-column) cross to the driver for the sidecar write. Membership
  * hashes ride Spark's own `xxhash64` over the NATIVE column type; the
  * k probe positions derive from one hash by Kirsch–Mitzenmacher double
  * hashing (h + i·h2 mod m, h2 odd — *Less Hashing, Same Performance*,
  * ESA 2006). The prune side re-computes the predicate value's hash with
  * the same `xxhash64` expression, cast to the RECORDED column type so
  * the bytes hashed match the build exactly.
  *
  * Contract mirrors the stats sidecar: written before the manifest CAS
  * (a crash window degrades readers to keep-all, never wrong rows),
  * immutable beside its files, inherited by referencing manifests,
  * vacuumed with the batch; pruning is a SUPERSET guarantee (false
  * positives keep a file; false negatives are impossible), the residual
  * row filter is the semantics.
  */
object FileBloom {

  private[operators] val BloomName = "_bloom.tsv"

  /** k probe positions for hash `h` in an m-bit filter. */
  private def positions(h: Long, mBits: Int, k: Int): Array[Int] = {
    val h2 = java.lang.Long.rotateLeft(h, 31) | 1L
    Array.tabulate(k)(i =>
      java.lang.Math.floorMod(h + i.toLong * h2, mBits.toLong).toInt)
  }

  private[operators] def mightContain(bits: Array[Byte], mBits: Int, k: Int,
      h: Long): Boolean =
    positions(h, mBits, k).forall(p => (bits(p >> 3) & (1 << (p & 7))) != 0)

  /** Distributed per-group bloom build: input = xxhash64 of the value,
    * state = the fixed-size bitmap. */
  private class BloomAgg(mBits: Int, k: Int)
      extends Aggregator[Long, Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = Array.ofDim[Byte](mBits / 8)
    override def reduce(b: Array[Byte], h: Long): Array[Byte] = {
      val ps = positions(h, mBits, k)
      var i = 0
      while (i < ps.length) {
        val p = ps(i)
        b(p >> 3) = (b(p >> 3) | (1 << (p & 7))).toByte
        i += 1
      }
      b
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    override def finish(r: Array[Byte]): Array[Byte] = r
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** The set of distinct non-null values of column `c` in ONE parquet
    * file, recovered from its DICTIONARY pages (r19, guide §6): when every
    * data page of every row group is dictionary-encoded, the union of the
    * row groups' dictionaries IS the file's distinct value set —
    * parquet-mr appends a dictionary entry only when a value is written —
    * so the bloom bitmap can be built from O(distinct) driver-side decodes
    * with ZERO Spark jobs instead of a full re-read of the batch. Hashing
    * goes through Spark's own [[XxHash64]] expression (interpreted eval
    * over the column's Catalyst type), so build and probe hash the exact
    * same bytes as the scan pass did.
    *
    * Returns Some(Some(bits)) when provable, Some(None) when the file has
    * no non-null values for `c` (the scan pass emits no line then), None
    * when not provable (plain-encoded pages, dictionary fallback mid-chunk,
    * missing encoding stats, unsupported type) — the caller scans those
    * files.
    */
  /** Per-column bloom state while walking one file's row groups. */
  private final class ColState(val dt: org.apache.spark.sql.types.DataType,
      mBits: Int) {
    val bits: Array[Byte] = Array.ofDim[Byte](mBits / 8)
    var sawValue = false
    var ambiguous = false
  }

  private def fileDictionaryBits(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      reader: org.apache.parquet.hadoop.ParquetFileReader,
      cols: Seq[String], fields: Map[String, org.apache.spark.sql.types.DataType],
      mBits: Int, k: Int): Map[String, Option[Option[Array[Byte]]]] = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val msgType = footer.getFileMetaData.getSchema
    val state = cols.map(c => c -> new ColState(fields(c), mBits)).toMap
    // value decoder per (Spark type, parquet physical/logical type) — the
    // decoded value is the Catalyst-internal form XxHash64 hashes
    def decoderFor(c: String)
        : Option[(org.apache.parquet.column.Dictionary, Int) => Any] = {
      val colDesc = msgType.getColumns.asScala
        .find(d => d.getPath.length == 1 && d.getPath()(0) == c).orNull
      if (colDesc == null) return None
      val prim = colDesc.getPrimitiveType
      (fields(c), prim.getPrimitiveTypeName) match {
        case (LongType, PrimitiveTypeName.INT64) =>
          Some((d, i) => d.decodeToLong(i))
        case (TimestampType, PrimitiveTypeName.INT64)
          if prim.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] &&
            prim.getLogicalTypeAnnotation
              .asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
              .getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
          Some((d, i) => d.decodeToLong(i))
        case (IntegerType, PrimitiveTypeName.INT32) =>
          Some((d, i) => d.decodeToInt(i))
        case (ShortType, PrimitiveTypeName.INT32) =>
          Some((d, i) => d.decodeToInt(i).toShort)
        case (ByteType, PrimitiveTypeName.INT32) =>
          Some((d, i) => d.decodeToInt(i).toByte)
        case (DoubleType, PrimitiveTypeName.DOUBLE) =>
          Some((d, i) => d.decodeToDouble(i))
        case (FloatType, PrimitiveTypeName.FLOAT) =>
          Some((d, i) => d.decodeToFloat(i))
        case (StringType, PrimitiveTypeName.BINARY)
          if prim.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
          Some((d, i) => org.apache.spark.unsafe.types.UTF8String
            .fromBytes(d.decodeToBinary(i).getBytes))
        case _ => None
      }
    }
    val decoders = cols.map(c => c -> decoderFor(c)).toMap
    cols.foreach(c => if (decoders(c).isEmpty) state(c).ambiguous = true)
    val colDescs = cols.map(c => c -> msgType.getColumns.asScala
      .find(d => d.getPath.length == 1 && d.getPath()(0) == c).orNull).toMap
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    val hashExprs = cols.map(c => c ->
      new org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(org.apache.spark.sql.catalyst.expressions.BoundReference(
          0, fields(c), nullable = false)))).toMap
    val blocks = footer.getBlocks.asScala
    for (b <- blocks) {
      // getNextDictionaryReader is positional (the public
      // DictionaryPageReadStore surface); skipNextRowGroup advances it
      // without reading any data pages
      val store = reader.getNextDictionaryReader()
      for (c <- cols if !state(c).ambiguous) {
        val s = state(c)
        val cc = b.getColumns.asScala.find(_.getPath.toDotString == c).orNull
        val st = if (cc == null) null else cc.getStatistics
        // need the null count to know whether this chunk holds any values
        // at all (an all-null chunk has no dictionary and contributes
        // nothing — exactly like the scan pass's isNotNull filter)
        if (cc == null || st == null || !st.isNumNullsSet) s.ambiguous = true
        else if (cc.getValueCount - st.getNumNulls > 0) {
          val es = cc.getEncodingStats
          // provability: every data page dictionary-encoded (a mid-chunk
          // fallback to plain would leave values outside the dictionary)
          if (es == null || es.hasNonDictionaryEncodedPages ||
              !es.hasDictionaryPages) s.ambiguous = true
          else {
            val page = store.readDictionaryPage(colDescs(c))
            if (page == null) s.ambiguous = true
            else {
              val dict = page.getEncoding.initDictionary(colDescs(c), page)
              val dec = decoders(c).get
              val hashExpr = hashExprs(c)
              var i = 0
              while (i <= dict.getMaxId) {
                row.update(0, dec(dict, i))
                val h = hashExpr.eval(row).asInstanceOf[Long]
                val ps = positions(h, mBits, k)
                var j = 0
                while (j < ps.length) {
                  val p = ps(j)
                  s.bits(p >> 3) = (s.bits(p >> 3) | (1 << (p & 7))).toByte
                  j += 1
                }
                i += 1
              }
              s.sawValue = true
            }
          }
        }
      }
      reader.skipNextRowGroup()
    }
    cols.map { c =>
      val s = state(c)
      c -> (if (s.ambiguous) None
            else Some(if (s.sawValue) Some(s.bits) else None))
    }.toMap
  }

  /** Build + write the `_bloom.tsv` sidecar for the batch at
    * `dir/dataRel`, whose parquet files are `files` (its
    * [[ManifestTable.batchFiles]]). Bitmaps come from the parquet
    * DICTIONARY pages of the just-written files ([[dictionaryBits]] —
    * O(files × distinct values) of driver metadata reads, zero Spark
    * jobs); any (file, column) that is not provably dictionary-complete
    * falls back to the original distributed pass, restricted to exactly
    * those files (the per-column null filter keeps null rows out of the
    * filter; the batch was just written so the re-reads are
    * page-cache-warm). Sidecar content is bit-identical between the two
    * paths — FileBloomSpec pins it
    * (`forceScan` exists for that spec: it marks every pair ambiguous so
    * the original distributed pass produces the comparison sidecar). */
  private[graft] def write(spark: SparkSession, fs: FileSystem,
      dir: String, dataRel: String, files: Seq[Path], bloomCols: Seq[String],
      mBits: Int, k: Int, schema: org.apache.spark.sql.types.StructType,
      forceScan: Boolean = false): Unit = {
    require(mBits > 0 && mBits % 8 == 0, s"mBits must be a multiple of 8")
    require(k >= 1, "k must be >= 1")
    val fields = schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = bloomCols.distinct
    cols.foreach(c => require(fields.contains(c),
      s"bloomCols column $c not in batch schema ${fields.keys.toSeq.sorted}"))
    val b64 = java.util.Base64.getEncoder
    val conf = spark.sparkContext.hadoopConfiguration
    // footer-dictionary pass: (file, col) -> Some(bits) | None (= no line);
    // ambiguous pairs collect for the restricted scan
    val footerBits = scala.collection.mutable.Map
      .empty[(String, String), Option[Array[Byte]]]
    val ambiguous = scala.collection.mutable.Set.empty[(String, String)]
    files.foreach { p =>
      if (forceScan) cols.foreach(c => ambiguous += ((p.getName, c)))
      else {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
          // the session's conf: parquet's default options build a fresh
          // Configuration, which re-parses the default resources per file.
          // Built per open, as closing a reader releases its codec factory.
          org.apache.parquet.HadoopReadOptions.builder(conf).build())
        try {
          val footer = reader.getFooter
          fileDictionaryBits(footer, reader, cols, fields, mBits, k).foreach {
            case (c, Some(r)) => footerBits((p.getName, c)) = r
            case (c, None) => ambiguous += ((p.getName, c))
          }
        } finally reader.close()
      }
    }
    // restricted distributed fallback — one pass per column that has any
    // ambiguous file, over ONLY those files
    val scanBits = scala.collection.mutable.Map.empty[(String, String), Array[Byte]]
    if (ambiguous.nonEmpty) {
      val agg = udaf(new BloomAgg(mBits, k))
      ambiguous.groupBy(_._2).foreach { case (c, pairs) =>
        val names = pairs.map(_._1)
        val bdf = spark.read.parquet(
          files.filter(p => names(p.getName)).map(_.toString): _*)
        bdf.where(col(c).isNotNull)
          .select(input_file_name().as("f"), xxhash64(col(c)).as("h"))
          .groupBy("f").agg(agg(col("h")).as("bits"))
          .collect()
          .foreach { r =>
            val base = r.getAs[String]("f").split('/').last
            scanBits((base, c)) = r.getAs[Array[Byte]]("bits")
          }
      }
    }
    val lines = cols.flatMap { c =>
      files.map(_.getName).flatMap { f =>
        val bits: Option[Array[Byte]] =
          if (ambiguous((f, c))) scanBits.get((f, c))
          else footerBits((f, c))
        bits.map(bs =>
          s"$f\t$c\t${fields(c).typeName}\t$mBits\t$k\t${b64.encodeToString(bs)}")
      }
    }
    if (lines.nonEmpty) {
      val out = fs.create(new Path(s"$dir/$dataRel/$BloomName"), true)
      try out.write((lines.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Sidecar entries for `files` (manifest-relative or absolute — clone
    * entries resolve to the SOURCE batch dir): file -> col ->
    * (typeName, mBits, k, bits). Batches without a sidecar simply have no
    * entries — their files are never bloom-pruned. */
  private[operators] def forFiles(fs: FileSystem, dir: String,
      files: Seq[String], resolve: (String, String) => String)
      : Map[String, Map[String, (String, Int, Int, Array[Byte])]] = {
    val dec = java.util.Base64.getDecoder
    val batches = files.map(_.split('/').dropRight(1).mkString("/")).distinct
    batches.flatMap { b =>
      val p = new Path(s"${resolve(dir, b)}/$BloomName")
      if (!fs.exists(p)) Nil
      else {
        val in = fs.open(p)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().map(_.trim).filter(_.nonEmpty).toList finally in.close()
        lines.flatMap(_.split('\t') match {
          case Array(f, c, tn, m, kk, bits) =>
            Some((s"$b/$f", c, (tn, m.toInt, kk.toInt, dec.decode(bits))))
          case _ => None
        })
      }
    }.groupBy(_._1).map { case (f, es) =>
      f -> es.map(e => e._2 -> e._3).toMap }
  }

  /** The predicate value's hash AS THE COLUMN TYPE — the same
    * Literal→Cast→XxHash64 expression chain the former spark.range(1)
    * probe job evaluated, now eval'd driver-side (r19: zero jobs on the
    * prune path; interpreted and codegen'd eval of these expressions are
    * the same function by Catalyst's contract). None when the value cannot
    * cast to the recorded type (unknowable -> caller keeps the file). */
  private[operators] def hashOf(spark: SparkSession, typeName: String,
      v: Any): Option[Long] =
    try {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
      val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(typeName)
      val lt = Literal(v)
      if (!Cast.canCast(lt.dataType, dt)) None
      else {
        val cast = Cast(lt, dt,
          Some(spark.sessionState.conf.sessionLocalTimeZone))
        val h = new XxHash64(Seq(cast))
          .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        Option(h).map(_.asInstanceOf[Long])
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}
