package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A typed operand for the binary-op engine: a Spark Column plus its
  * resolved DataType (the analog of the reference's
  * `value.type.python_type` introspection, coercion.py:19-22). */
final case class Operand(col: Column, dt: DataType) {
  def isBool: Boolean = dt == BooleanType
}

/** The numpy-IEEE-on-SQL semantics layer — the Spark re-expression of the
  * reference's coercion registry (coercion.py:44-116). Implemented as
  * `when()` chains over codegen'd built-ins (no UDFs), so Catalyst constant-
  * folds them when operands are literal.
  */
object Semantics {
  private val PosInf = lit(Double.PositiveInfinity)
  private val NaN = lit(Double.NaN)

  def isInf(c: Column): Column =
    c === PosInf || c === lit(Double.NegativeInfinity)

  /** Exact floor on doubles without the Long-overflow of Spark's
    * floor(double): any double with |x| >= 2^52 is already integral
    * (so are ±Inf; NaN compares greater than everything in Spark). */
  def dfloor(c: Column): Column =
    when(abs(c) >= lit(4.503599627370496e15), c)
      .otherwise(floor(c).cast(DoubleType))

  /** numpy-style true/floor division (coercion.py:48-70):
    * inf/inf → NaN; NaN/x → NaN; x/inf → 0.0; x/0 → sign(x)*Inf
    * (so 0/0 → NaN via 0*Inf); else IEEE division (floored for `//`).
    */
  def saneDiv(l: Column, r: Column, floorDiv: Boolean): Column = {
    val lf = l.cast(DoubleType)
    val rf = r.cast(DoubleType)
    val base = if (floorDiv) dfloor(lf / rf) else lf / rf
    when(isInf(lf) && isInf(rf), NaN)
      .when(isnan(lf), lf)
      .when(isInf(rf), lit(0.0))
      .when(rf === lit(0.0), signum(lf) * PosInf)
      .otherwise(base)
  }

  /** numpy-style mod (coercion.py:73-85): mod by 0, or of inf/NaN → NaN;
    * x % ±inf → x when signs agree else the divisor; else SQL remainder
    * (sign follows the dividend — the reference's NUMERIC % NUMERIC,
    * which the DuckDB oracle's `%` matches). */
  def saneMod(l: Column, r: Column): Column = {
    val lf = l.cast(DoubleType)
    val rf = r.cast(DoubleType)
    when(isInf(lf) || isnan(lf) || rf === lit(0.0), NaN)
      .when(isInf(rf) && (signum(lf) === -signum(rf)), rf)
      .when(isInf(rf), lf)
      .otherwise(lf % rf)
  }

  /** bool→int coercion for arithmetic (coercion.py:88-116). */
  private def deBool(o: Operand): Operand =
    if (o.isBool) Operand(o.col.cast(IntegerType), IntegerType) else o

  /** Named binary operators with reference coercion applied. */
  sealed abstract class BinOp(val name: String) {
    def apply(l: Operand, r: Operand): Column
  }

  private def arith(nm: String)(f: (Column, Column) => Column): BinOp =
    new BinOp(nm) {
      def apply(l0: Operand, r0: Operand): Column = {
        val l = deBool(l0); val r = deBool(r0)
        f(l.col, r.col)
      }
    }

  private def cmp(nm: String)(f: (Column, Column) => Column): BinOp =
    new BinOp(nm) {
      def apply(l: Operand, r: Operand): Column = f(l.col, r.col)
    }

  val Add: BinOp = arith("add")(_ + _)
  val Sub: BinOp = arith("sub")(_ - _)
  val Mul: BinOp = arith("mul")(_ * _)
  val Div: BinOp = arith("truediv")((l, r) => saneDiv(l, r, floorDiv = false))
  val FloorDiv: BinOp = arith("floordiv")((l, r) => saneDiv(l, r, floorDiv = true))
  val Mod: BinOp = arith("mod")(saneMod)
  val Pow: BinOp = arith("pow")(pow)
  val Eq: BinOp = cmp("eq")(_ === _)
  val Ne: BinOp = cmp("ne")(_ =!= _)
  val Lt: BinOp = cmp("lt")(_ < _)
  val Le: BinOp = cmp("le")(_ <= _)
  val Gt: BinOp = cmp("gt")(_ > _)
  val Ge: BinOp = cmp("ge")(_ >= _)
  /** clip machinery routes GREATEST/LEAST through the broadcast engine,
    * exactly as the reference does (alchemy.py:254-262; dialect greatest/
    * least ignore NULL bounds). */
  val Greatest: BinOp = cmp("greatest")((l, r) => greatest(l, r))
  val Least: BinOp = cmp("least")((l, r) => least(l, r))
  /** combine_first: self wins unless NULL — rides the same outer-align
    * broadcast engine as the arithmetic ops. */
  val CombineFirst: BinOp = cmp("combine_first")((l, r) => coalesce(l, r))

  /** Scalar → typed literal operand (the analog of coercion.get_type on
    * plain Python values). */
  def literal(v: Any): Operand = v match {
    case null => Operand(lit(null), NullType)
    case None => Operand(lit(null), NullType)
    case Some(x) => literal(x)
    case b: Boolean => Operand(lit(b), BooleanType)
    case i: Int => Operand(lit(i), IntegerType)
    case l: Long => Operand(lit(l), LongType)
    case s: Short => Operand(lit(s), ShortType)
    case b: Byte => Operand(lit(b), ByteType)
    case f: Float => Operand(lit(f), FloatType)
    case d: Double => Operand(lit(d), DoubleType)
    case s: String => Operand(lit(s), StringType)
    case d: java.math.BigDecimal => Operand(lit(d), DecimalType(38, 18))
    case d: BigDecimal => Operand(lit(d.bigDecimal), DecimalType(38, 18))
    case t: java.sql.Timestamp => Operand(lit(t), TimestampType)
    case d: java.sql.Date => Operand(lit(d), DateType)
    case c: Column => Operand(c, NullType) // caller-supplied expression
    case other =>
      throw new GraftTypeError(
        s"Cannot broadcast np.ndarray with operand of type ${other.getClass.getName}")
  }

  /** Is this value a scalar for broadcast-dispatch purposes
    * (pd.api.types.is_scalar analog)? */
  def isScalar(v: Any): Boolean = v match {
    case null | None => true
    case _: Boolean | _: Int | _: Long | _: Short | _: Byte | _: Float |
        _: Double | _: String | _: java.math.BigDecimal | _: BigDecimal |
        _: java.sql.Timestamp | _: java.sql.Date => true
    case _ => false
  }
}
