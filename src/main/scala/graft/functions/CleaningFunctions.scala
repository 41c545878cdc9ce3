package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Scalar cleaning / coercion / name-compliance functions.
  *
  * Re-expresses the reference's per-sink cleaning rules
  * (vector-io `util.py:357-503` and the import_vdf connectors) as Spark
  * column expressions so they run inside whole-stage codegen instead of
  * Python row loops.
  */
object CleaningFunctions {

  /** F1 `extract_vector` (`vdf_import_cls.py:189-212`): accept a native
    * float array, or a string/binary rendering "[0.1, 0.2, ...]", and
    * produce `array<float>`. Abnormal (string/bytes) encodings go through
    * from_json. Call-site picks the branch by input type. */
  def vectorFromString(c: Column): Column =
    from_json(c.cast("string"), ArrayType(FloatType))

  /** F2 `get_qdrant_id_from_id` (`util.py:413-420`): digit strings pass as
    * numeric ids; anything else becomes a deterministic UUID derived from
    * md5 of the string; UUIDs pass through. Output is a canonical string. */
  def normalizeId(c: Column): Column = {
    val s = c.cast("string")
    when(s.rlike("^[0-9]+$"), s)
      .when(isStrUuid(s), lower(s))
      .otherwise(uuidFromHex(md5(s)))
  }

  /** F3 `is_str_uuid` (`util.py:405-410`). */
  def isStrUuid(c: Column): Column =
    c.rlike("^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$")

  /** Format a 32-hex-char md5 digest as a UUID string (8-4-4-4-12). */
  def uuidFromHex(hex32: Column): Column =
    concat_ws("-",
      substring(hex32, 1, 8), substring(hex32, 9, 4), substring(hex32, 13, 4),
      substring(hex32, 17, 4), substring(hex32, 21, 12))

  /** F6 Pinecone index-name compliance (`pinecone_import.py:108-110`). */
  def pineconeCompliantName(c: Column): Column = lower(translate(c, "_", "-"))

  /** F7 KDB.AI column compliance (`kdbai_import.py:78-82`): '-'→'_',
    * prefix "col" when the name starts with '_'. */
  def kdbaiCompliantName(c: Column): Column = {
    val underscored = translate(c, "-", "_")
    when(underscored.startsWith("_"), concat(lit("col"), underscored))
      .otherwise(underscored)
  }

  /** F8 AstraDB collection compliance (`astradb_import.py:272-273`). */
  def astraCompliantName(c: Column): Column =
    regexp_replace(c, "[- ./]", "_")

  /** F10 `clean_value` (`util.py:480-490`): NaN → null on doubles. */
  def nanToNull(c: Column): Column = when(isnan(c), lit(null)).otherwise(c)

  /** NaN → 0 variant (Qdrant policy, `qdrant_import.py:390-403`). */
  def nanToZero(c: Column): Column = nanvl(c, lit(0.0))

  /** NaN inside a double array → null elements (F10 list branch). */
  def nanToNullArray(c: Column): Column =
    transform(c, x => when(isnan(x), lit(null)).otherwise(x))

  /** F11 Inf → NaN (`util.py:373-375`). */
  def infToNan(c: Column): Column =
    when(c === Double.PositiveInfinity || c === Double.NegativeInfinity,
      lit(Double.NaN)).otherwise(c)

  /** F9 metadata key cleanup (`util.py:493-503`): spaces → '_' in map keys. */
  def cleanMapKeys(c: Column): Column =
    map_from_entries(transform(map_entries(c),
      e => struct(translate(e.getField("key"), " ", "_").as("key"),
                  e.getField("value").as("value"))))

  /** F14 text concat for embedding input (`reembed.py:211-217`):
    * space-joined non-null string casts of the given columns. */
  def textConcat(cols: Seq[Column]): Column =
    concat_ws(" ", cols.map(_.cast("string")): _*)

  /** P8 Chroma metadata policy (`chroma_import.py:201-207`): keep only
    * columns whose type is in `keep` (default: the four scalar types
    * Chroma accepts), plus the id column. */
  def filterMetadataTypes(df: org.apache.spark.sql.DataFrame, idCol: String,
      keep: Set[org.apache.spark.sql.types.DataType] = Set(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.DoubleType,
        org.apache.spark.sql.types.BooleanType)): org.apache.spark.sql.DataFrame = {
    val cols = df.schema.fields
      .filter(f => f.name == idCol || keep.contains(f.dataType))
      .map(f => col(f.name))
    df.select(cols.toSeq: _*)
  }

  /** F19 per-dtype default values (`lancedb_import.py:155-166`):
    * the fill used when schema evolution adds a missing column. */
  def defaultValueFor(dt: org.apache.spark.sql.types.DataType): Any = dt match {
    case org.apache.spark.sql.types.StringType => ""
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType => 0L
    case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType => 0.0
    case org.apache.spark.sql.types.BooleanType => false
    case _ => null // datetime/timedelta → NaT in the reference = null here
  }

  /** F21 Turbopuffer attribute coercion (`turbopuffer_import.py:123-141`):
    * an array attribute survives as-is only if every element is a
    * string or an unsigned integer; otherwise it is stringified.
    *
    * The reference decides per row; a Spark column has ONE type, so the
    * decision is per column — string arrays pass through, integral
    * arrays stay numeric only if every value in the column is
    * non-negative (one distributed min aggregation), everything else is
    * stringified. Same data contract at the sink, statically typed. */
  def coerceAttributeColumn(df: org.apache.spark.sql.DataFrame,
      colName: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    df.schema(colName).dataType match {
      case ArrayType(StringType, _) => df
      case ArrayType(LongType | IntegerType | ShortType | ByteType, _) =>
        val minVal = df.agg(min(array_min(col(colName))).cast("long")).collect().head
        val allUnsigned = minVal.isNullAt(0) || minVal.getLong(0) >= 0L
        if (allUnsigned) df
        else df.withColumn(colName, transform(col(colName), _.cast("string")))
      case ArrayType(_, _) =>
        df.withColumn(colName, transform(col(colName), _.cast("string")))
      case _ => df.withColumn(colName, col(colName).cast("string"))
    }
  }
}
