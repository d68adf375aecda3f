package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dynamic-schema support — the reference's least-upper-bound column typing
  * (reference: core/src/main/clojure/xtdb/types.clj:142-146 `merge-types` /
  * MergeTypes.kt; LeastUpperBound types.clj:308-309): a column's type is the
  * merge of everything ever written. Numeric conflicts widen
  * (i8<i16<i32<i64<f32<f64); genuinely mixed scalar types fall back to a
  * **tagged union struct** `struct<leg:string, i64:long, f64:double,
  * utf8:string, bool:boolean>` — the Spark rendering of the reference's
  * dense-union columns (types.clj:236-239, DenseUnionVector.kt), confined
  * to this module per SURVEY §1.2.
  */
object DynamicSchema {

  val LegField = "leg"
  val unionType: StructType = StructType(Seq(
    StructField(LegField, StringType),
    StructField("i64", LongType),
    StructField("f64", DoubleType),
    StructField("utf8", StringType),
    StructField("bool", BooleanType)))

  private val numericRank: Map[DataType, Int] = Map(
    ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3,
    FloatType -> 4, DoubleType -> 5)

  def isUnion(dt: DataType): Boolean = dt match {
    case s: StructType => s.fieldNames.headOption.contains(LegField)
    case _ => false
  }

  /** Least-upper-bound of two column types: equal => itself; numeric pair
    * => the wider; struct pair => field-wise LUB (the reference promotes
    * WITHIN nested structs — merge-fields in types.clj:142-146, exercised
    * by duv_promotion_test.clj: `{data {:utf8 1}}` then `{data {:utf8
    * "x"}}` keeps `data` a struct and unions `data.utf8`); list pair =>
    * element LUB; anything else => the tagged union struct. */
  def lub(a: DataType, b: DataType): DataType =
    if (a == b) a
    else if (isUnion(a) || isUnion(b)) unionType
    else (a, b) match {
      case (sa: StructType, sb: StructType) => mergeSchemas(sa, sb)
      case (ArrayType(ea, na), ArrayType(eb, nb)) =>
        ArrayType(lub(ea, eb), na || nb)
      case _ => (numericRank.get(a), numericRank.get(b)) match {
        case (Some(ra), Some(rb)) => if (ra >= rb) a else b
        case _ => unionType
      }
    }

  /** Wrap a scalar column as a tagged-union struct value. */
  def toUnion(c: Column, dt: DataType): Column = dt match {
    case s if isUnion(s) => c
    case LongType | IntegerType | ShortType | ByteType =>
      struct(lit("i64").as(LegField), c.cast("long").as("i64"),
        lit(null).cast("double").as("f64"),
        lit(null).cast("string").as("utf8"),
        lit(null).cast("boolean").as("bool"))
    case DoubleType | FloatType =>
      struct(lit("f64").as(LegField), lit(null).cast("long").as("i64"),
        c.cast("double").as("f64"), lit(null).cast("string").as("utf8"),
        lit(null).cast("boolean").as("bool"))
    case BooleanType =>
      struct(lit("bool").as(LegField), lit(null).cast("long").as("i64"),
        lit(null).cast("double").as("f64"),
        lit(null).cast("string").as("utf8"), c.as("bool"))
    case _ =>
      struct(lit("utf8").as(LegField), lit(null).cast("long").as("i64"),
        lit(null).cast("double").as("f64"),
        c.cast("string").as("utf8"), lit(null).cast("boolean").as("bool"))
  }

  /** Total order across union legs for ORDER BY / compare on polymorphic
    * columns (reference expression/comparator.clj: cross-type total order;
    * we use bool < numbers < strings, numbers comparing numerically across
    * legs). Returns a sortable struct column. */
  def unionSortKey(u: Column): Column = {
    val typeRank = when(u.getField(LegField) === "bool", 0)
      .when(u.getField(LegField).isin("i64", "f64"), 1)
      .otherwise(2)
    struct(
      typeRank.as("tr"),
      coalesce(u.getField("f64"), u.getField("i64").cast("double"),
        when(u.getField("bool"), 1.0d).otherwise(0.0d)).as("num"),
      u.getField("utf8").as("str"))
  }

  /** Render a union value for output (reference renders the active leg). */
  def unionRender(u: Column): Column =
    when(u.isNull, lit(null).cast("string"))
      .otherwise(coalesce(
        u.getField("utf8"),
        u.getField("i64").cast("string"),
        u.getField("f64").cast("string"),
        u.getField("bool").cast("string")))

  /** Conform one value of type `cur` to the (LUB-wider) `target` type:
    * union-wrap at union targets, recurse through structs (missing
    * subfields become null) and arrays, plain cast for scalar widening. */
  def conformColumn(c: Column, cur: DataType, target: DataType): Column =
    if (cur == target) c
    else if (isUnion(target)) toUnion(c, cur)
    else (cur, target) match {
      case (sc: StructType, st: StructType) =>
        val fields = st.fields.map { f =>
          sc.fields.find(_.name == f.name) match {
            case Some(cf) =>
              conformColumn(c.getField(f.name), cf.dataType, f.dataType)
                .as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }
        when(c.isNull, lit(null).cast(st))
          .otherwise(struct(fields.toIndexedSeq: _*))
      case (ArrayType(ec, _), at @ ArrayType(et, _)) =>
        when(c.isNull, lit(null).cast(at))
          .otherwise(transform(c, x => conformColumn(x, ec, et)))
      case _ => c.cast(target)
    }

  /** Conform `df` to `target` schema: add missing columns as nulls, cast /
    * union-wrap mismatched ones (recursively through structs and arrays),
    * preserve target order. */
  def conform(df: DataFrame, target: StructType): DataFrame = {
    val cols = target.fields.map { f =>
      if (!df.columns.contains(f.name))
        lit(null).cast(f.dataType).as(f.name)
      else {
        val cur = df.schema(f.name).dataType
        if (cur == f.dataType) col(f.name)
        else conformColumn(col(f.name), cur, f.dataType).as(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Can parquet files written with schema `existing` still be read through
    * the wider `merged` schema without a physical rewrite? Scalar numeric
    * widenings are promoted by the parquet reader and fields newly added
    * to `merged` read as null; a type flip — union transition, scalar vs
    * struct, string vs number — is not readable and forces a rewrite.
    * Used by the write path to decide between O(1) registry-only evolution
    * and a synchronous table rewrite (XtDb.evolveSchema). */
  def readPromotable(existing: DataType, merged: DataType): Boolean =
    if (existing == merged) true
    else (existing, merged) match {
      case (a, b) if numericRank.contains(a) && numericRank.contains(b) =>
        numericRank(a) <= numericRank(b)
      case (sa: StructType, sb: StructType) =>
        sb.fields.forall { f =>
          sa.fields.find(_.name == f.name)
            .forall(ef => readPromotable(ef.dataType, f.dataType))
        }
      case (ArrayType(ea, _), ArrayType(eb, _)) => readPromotable(ea, eb)
      case _ => false
    }

  /** Merged (LUB) schema of two row schemas, keeping `a`'s column order and
    * appending new columns from `b`. */
  def mergeSchemas(a: StructType, b: StructType): StructType = {
    val bByName = b.fields.map(f => f.name -> f).toMap
    val merged = a.fields.map { f =>
      bByName.get(f.name) match {
        case Some(bf) => StructField(f.name, lub(f.dataType, bf.dataType))
        case None => f
      }
    }
    val extra = b.fields.filterNot(f => a.fieldNames.contains(f.name))
    StructType(merged ++ extra)
  }
}
