package graft.la

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The reference's linear-algebra DSL ("pdml") re-implemented as a
  * hand-rolled recursive-descent parser + interpreter over [[BlockMatrix]]
  * (reference grammar: src/linearAlgebraDSL/source/LAParser.y, lexer tokens
  * src/linearAlgebraDSL/headers/LALexerTokens.h; samples
  * src/linearAlgebraDSL/DSLSamples (pdml samples); instance runner
  * src/tests/source/TestLA21_Instance.cc).
  *
  * Supported surface (the full reference grammar):
  *   A = load(rows, cols, br, bc, "path")       — parquet of (i, vec) rows
  *   A = zeros|ones(rows, cols, br, bc)
  *   A = identity(n, bn)
  *   E = A + B | A - B                          — elementwise
  *   G = A * B                                  — elementwise (scale) multiply
  *   I = A %*% B                                — matrix multiply
  *   H = A '* B                                 — transpose-multiply (A' %*% B)
  *   J = A^T      K = A^-1                      — transpose / inverse
  *   max(A) min(A) rowMax|rowMin|rowSum|colMax|colMin|colSum(A)
  *   duplicateRow(A, n, bn) | duplicateCol(A, n, bn)
  */
object Pdml {

  sealed trait Expr
  final case class Ident(name: String) extends Expr
  final case class Load(rows: Long, cols: Long, br: Int, bc: Int, path: String) extends Expr
  final case class Fill(v: Double, rows: Long, cols: Long, br: Int, bc: Int) extends Expr
  final case class Identity(n: Long, bn: Int) extends Expr
  final case class BinOp(op: String, l: Expr, r: Expr) extends Expr
  final case class Postfix(op: String, e: Expr) extends Expr
  final case class Call(fn: String, e: Expr, n: Long = 0, bn: Int = 0) extends Expr
  final case class Assign(name: String, e: Expr)

  // ---------- lexer ----------
  sealed trait Tok
  final case class TId(s: String) extends Tok
  final case class TNum(s: String) extends Tok
  final case class TStr(s: String) extends Tok
  final case class TSym(s: String) extends Tok

  private val symbols = Seq("%*%", "'*", "^-1", "^T", "=", "+", "-", "*", "(", ")", ",")

  def lex(src: String): Vector[Tok] = {
    val toks = Vector.newBuilder[Tok]
    var i = 0
    while (i < src.length) {
      val c = src.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '#') { while (i < src.length && src.charAt(i) != '\n') i += 1 }
      else if (c == '"') {
        val end = src.indexOf('"', i + 1)
        require(end > 0, s"unterminated string at $i")
        toks += TStr(src.substring(i + 1, end)); i = end + 1
      } else if (c.isDigit) {
        val start = i
        while (i < src.length && (src.charAt(i).isDigit || src.charAt(i) == '.')) i += 1
        toks += TNum(src.substring(start, i))
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < src.length && (src.charAt(i).isLetterOrDigit || src.charAt(i) == '_')) i += 1
        toks += TId(src.substring(start, i))
      } else {
        symbols.find(s => src.startsWith(s, i)) match {
          case Some(s) => toks += TSym(s); i += s.length
          case None => throw new IllegalArgumentException(s"bad char '$c' at $i")
        }
      }
    }
    toks.result()
  }

  // ---------- parser (recursive descent, one statement per assignment) ----------
  final class Parser(toks: Vector[Tok]) {
    private var pos = 0
    private def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def expect(sym: String): Unit = next() match {
      case TSym(`sym`) => ()
      case other => throw new IllegalArgumentException(s"expected '$sym', got $other")
    }
    private def num(): String = next() match {
      case TNum(s) => s
      case other => throw new IllegalArgumentException(s"expected number, got $other")
    }

    def program(): List[Assign] = {
      val out = mutable.ListBuffer.empty[Assign]
      while (pos < toks.length) out += assign()
      out.toList
    }

    private def assign(): Assign = next() match {
      case TId(name) => expect("="); Assign(name, additive())
      case other => throw new IllegalArgumentException(s"expected identifier, got $other")
    }

    private def additive(): Expr = {
      var e = multiplicative()
      var cont = true
      while (cont) peek match {
        case Some(TSym("+")) => next(); e = BinOp("+", e, multiplicative())
        case Some(TSym("-")) => next(); e = BinOp("-", e, multiplicative())
        case _ => cont = false
      }
      e
    }

    private def multiplicative(): Expr = {
      var e = postfix()
      var cont = true
      while (cont) peek match {
        case Some(TSym("%*%")) => next(); e = BinOp("%*%", e, postfix())
        case Some(TSym("'*")) => next(); e = BinOp("'*", e, postfix())
        case Some(TSym("*")) => next(); e = BinOp("*", e, postfix())
        case _ => cont = false
      }
      e
    }

    private def postfix(): Expr = {
      var e = primary()
      var cont = true
      while (cont) peek match {
        case Some(TSym("^T")) => next(); e = Postfix("^T", e)
        case Some(TSym("^-1")) => next(); e = Postfix("^-1", e)
        case _ => cont = false
      }
      e
    }

    private val unaryFns = Set("max", "min", "rowMax", "rowMin", "rowSum",
      "colMax", "colMin", "colSum")

    private def primary(): Expr = next() match {
      case TSym("(") => val e = additive(); expect(")"); e
      case TId("load") =>
        expect("(")
        val r = num().toLong; expect(","); val c = num().toLong; expect(",")
        val br = num().toInt; expect(","); val bc = num().toInt; expect(",")
        val p = next() match {
          case TStr(s) => s
          case other => throw new IllegalArgumentException(s"expected path string, got $other")
        }
        expect(")")
        Load(r, c, br, bc, p)
      case TId(z @ ("zeros" | "ones")) =>
        expect("(")
        val r = num().toLong; expect(","); val c = num().toLong; expect(",")
        val br = num().toInt; expect(","); val bc = num().toInt; expect(")")
        Fill(if (z == "ones") 1.0 else 0.0, r, c, br, bc)
      case TId("identity") =>
        expect("("); val n = num().toLong; expect(","); val bn = num().toInt; expect(")")
        Identity(n, bn)
      case TId(f @ ("duplicateRow" | "duplicateCol")) =>
        expect("("); val e = additive(); expect(",")
        val n = num().toLong; expect(","); val bn = num().toInt; expect(")")
        Call(f, e, n, bn)
      case TId(f) if unaryFns(f) =>
        expect("("); val e = additive(); expect(")"); Call(f, e)
      case TId(name) => Ident(name)
      case other => throw new IllegalArgumentException(s"unexpected $other")
    }
  }

  def parse(src: String): List[Assign] = new Parser(lex(src)).program()

  // ---------- interpreter ----------
  /** Evaluate a program. `env` pre-binds matrices (the LAPDBInstance role —
    * reference: src/linearAlgebraDSL/headers/LAPDBInstance.h); `load` reads
    * a parquet of (id: long, vec: array<double|float>) rows.
    */
  def run(
      spark: SparkSession, src: String,
      env: Map[String, BlockMatrix] = Map.empty): mutable.LinkedHashMap[String, BlockMatrix] = {
    val vars = mutable.LinkedHashMap.empty[String, BlockMatrix]
    vars ++= env

    // Per-statement structural CSE: a repeated subexpression like the
    // (X '* X) in `P = (X '* X) %*% (X '* X)^-1` builds ONE BlockMatrix.
    // Safe within a statement because bindings cannot change mid-eval;
    // cleared per statement because they can change between statements.
    val memo = mutable.HashMap.empty[Expr, BlockMatrix]

    def eval(e: Expr): BlockMatrix = e match {
      case Ident(n) => vars.getOrElse(n,
        throw new IllegalArgumentException(s"undefined matrix $n"))
      // A %*% A⁻¹ with a structurally shared operand: the inverse gathers
      // A to the driver anyway (size-gated), so gather ONCE and finish the
      // product there instead of executing A's distributed plan a second
      // time for the multiply's probe side. No caching needed — the one
      // gather feeds both operands.
      case BinOp("%*%", l, Postfix("^-1", r)) if l == r =>
        val a = memo.getOrElseUpdate(l, eval(l))
        require(a.nRows == a.nCols, "inverse needs square")
        val n = a.nRows.toInt
        val local = a.toLocal()
        val inv = Kernels.inverse(n, local)
        val prod = Kernels.matmul(
          MatrixBlock(0, 0, n, n, local), MatrixBlock(0, 0, n, n, inv))
        BlockMatrix.fromLocal(spark, prod, n, n, a.rowsPerBlock, a.colsPerBlock)
      case composite => memo.getOrElseUpdate(composite, evalUncached(composite))
    }

    def evalUncached(e: Expr): BlockMatrix = e match {
      case Load(r, c, br, bc, path) =>
        import spark.implicits._
        val rows = graft.storage.ParquetPaths.read(spark, path).map { row =>
          (row.getLong(0), row.getSeq[Any](1).map {
            case f: Float => f.toDouble
            case d: Double => d
          }.toArray)
        }
        BlockMatrix.fromRowVectors(spark, rows, r, c, br, bc)
      case Fill(v, r, c, br, bc) => BlockMatrix.constant(spark, v, r, c, br, bc)
      case Identity(n, bn) => BlockMatrix.identity(spark, n, bn)
      case BinOp("+", l, r) => eval(l).add(eval(r))
      case BinOp("-", l, r) => eval(l).subtract(eval(r))
      case BinOp("*", l, r) => eval(l).elemMultiply(eval(r))
      case BinOp("%*%", l, r) => eval(l).multiply(eval(r))
      // A '* A is a gram — dispatches to the shuffle-free partial-
      // aggregate plan for tall-skinny matrices; A '* B routes through
      // tmultiply (broadcast-small right side, else the generic join)
      case BinOp("'*", l, r) if l == r => eval(l).gram
      case BinOp("'*", l, r) => eval(l).tmultiply(eval(r))
      case Postfix("^T", x) => eval(x).transpose
      case Postfix("^-1", x) => eval(x).inverse()
      case Call("rowSum", x, _, _) => eval(x).rowSum
      case Call("rowMax", x, _, _) => eval(x).rowMax
      case Call("rowMin", x, _, _) => eval(x).rowMin
      case Call("colSum", x, _, _) => eval(x).colSum
      case Call("colMax", x, _, _) => eval(x).colMax
      case Call("colMin", x, _, _) => eval(x).colMin
      case Call("max", x, _, _) =>
        val m = eval(x)
        BlockMatrix.fromLocal(spark, Array(m.maxElement), 1, 1, 1, 1)
      case Call("min", x, _, _) =>
        val m = eval(x)
        BlockMatrix.fromLocal(spark, Array(m.minElement), 1, 1, 1, 1)
      case Call("duplicateRow", x, n, bn) =>
        // row vector (1×c) replicated to n×c (reference LADuplicate*.h)
        val m = eval(x)
        val ones = BlockMatrix.constant(spark, 1.0, n, 1, bn, 1)
        ones.multiply(m)
      case Call("duplicateCol", x, n, bn) =>
        val m = eval(x)
        val ones = BlockMatrix.constant(spark, 1.0, 1, n, 1, bn)
        m.multiply(ones)
      case other => throw new IllegalArgumentException(s"cannot evaluate $other")
    }

    parse(src).foreach { case Assign(name, e) =>
      memo.clear() // bindings may change between statements
      vars(name) = eval(e)
    }
    vars
  }
}
