package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression for dictionary mention detection:
 * `tag_envo(text)` -> array<struct<start:int, end:int, form:string,
 * serials:array<bigint>, envos:array<int>>>.
 *
 * Why an Expression and not a typed mapPartitions: the expression evaluates
 * directly on the scan's UnsafeRow text (one UTF8String→String decode, no
 * Dataset Encoder round trip per row), composes inside any projection, and
 * is callable from SQL once registered (see [[GraftFunctions.register]]).
 * The automaton is JVM-wide (built from bundled resources on first use per
 * executor), so the expression serializes as a plain tree node with no
 * broadcast dependency.
 *
 * Codegen: `doGenCode` emits a single static call into [[TagEnvoMentions
 * .evalText]] (Scala's companion static forwarder), so the projection that
 * hosts the tagger stays inside WholeStageCodegen — a CodegenFallback here
 * would demote the WHOLE stage (scan-side projection + the non-empty
 * mention filter) to interpreted Volcano iteration, taxing everything
 * fused around the tagger, not just the tagger itself.
 *
 * Dictionary injection: `dict = None` (the default, and the only shape the
 * SQL-registered `tag_envo` produces) uses the JVM-global automaton built
 * from the bundled resources; `dict = Some(broadcast)` tags with a caller-
 * supplied automaton instead — the expression then serializes only the
 * small broadcast HANDLE with the plan (the automaton itself travels once
 * per executor via the broadcast, never per task), and codegen resolves
 * `.value` once per generated-class instance, not per row.
 */
case class TagEnvoMentions(child: Expression,
    dict: Option[org.apache.spark.broadcast.Broadcast[graft.dict.AhoCorasick]] = None)
  extends UnaryExpression {

  override def dataType: DataType = TagEnvoMentions.schema
  override def nullIntolerant: Boolean = true

  @transient private lazy val resolvedAutomaton: graft.dict.AhoCorasick =
    dict.map(_.value).getOrElse(TagEnvoMentions.automaton)

  override protected def nullSafeEval(input: Any): Any =
    TagEnvoMentions.evalWith(resolvedAutomaton, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    dict match {
      case None =>
        nullSafeCodeGen(ctx, ev, c =>
          s"${ev.value} = graft.functions.TagEnvoMentions.evalText($c);")
      case Some(bc) =>
        val bcRef = ctx.addReferenceObj("tagEnvoDictBc", bc,
          "org.apache.spark.broadcast.Broadcast")
        val acTerm = ctx.addMutableState("graft.dict.AhoCorasick", "tagEnvoAc",
          v => s"$v = (graft.dict.AhoCorasick) $bcRef.value();")
        nullSafeCodeGen(ctx, ev, c =>
          s"${ev.value} = graft.functions.TagEnvoMentions.evalWith($acTerm, $c);")
    }

  override protected def withNewChildInternal(newChild: Expression): TagEnvoMentions =
    copy(child = newChild)

  override def prettyName: String = "tag_envo"
}

object TagEnvoMentions {
  /** One automaton per JVM (driver and each executor), built lazily from
    * the bundled dictionary resources. */
  lazy val automaton: graft.dict.AhoCorasick = graft.KgPipeline.sharedAutomaton

  /** Shared interpreted/codegen evaluation body — called from generated
    * Java via the companion's static forwarder. */
  def evalText(input: UTF8String): ArrayData = evalWith(automaton, input)

  /** The same body against an explicit automaton (injected-dictionary
    * path — also a static forwarder for codegen). */
  def evalWith(automaton: graft.dict.AhoCorasick, input: UTF8String): ArrayData = {
    val spans = automaton.tag(input.toString)
    val rows = new Array[Any](spans.length)
    var i = 0
    while (i < spans.length) {
      val s = spans(i)
      rows(i) = InternalRow(
        s.start, s.end, UTF8String.fromString(s.form),
        new GenericArrayData(s.serials), new GenericArrayData(s.envos))
      i += 1
    }
    new GenericArrayData(rows)
  }

  val schema: DataType = ArrayType(StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("form", StringType, nullable = false),
    StructField("serials", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("envos", ArrayType(IntegerType, containsNull = false), nullable = false))),
    containsNull = false)
}

object GraftFunctions {
  /** Column-API entry point. Deliberately does NOT register anything:
    * `call_function` resolves at ANALYSIS time against the session that owns
    * the plan, so the function must already be in THAT session's registry —
    * via [[GraftExtensions]] (every `Sessions.local` session) or an explicit
    * [[register]]. Registering on `SparkSession.active` here (the old shape)
    * could mutate a DIFFERENT session's registry when the calling thread's
    * active session is not the plan's; a missing registration now fails fast
    * at analysis (UNRESOLVED_ROUTINE) instead of depending on thread state. */
  def tag_envo(c: Column): Column =
    org.apache.spark.sql.functions.call_function("tag_envo", c)

  /** Explicit-session variant: registers on the session that will analyze
    * the plan, then calls. Use from code that owns the session handle. */
  def tag_envo(spark: org.apache.spark.sql.SparkSession, c: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("tag_envo", c)
  }

  /** Register `tag_envo` + `vec_dot` + the IVF cell primitives for SQL use
    * on an existing session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "tag_envo", exprs => TagEnvoMentions(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => {
        require(exprs.length == 2, s"vec_dot takes 2 arguments, got ${exprs.length}")
        VecDot(exprs.head, exprs(1))
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_best_cell", exprs => {
        require(exprs.length == 3, s"vec_best_cell takes 3 arguments, got ${exprs.length}")
        VecBestCell(exprs(0), exprs(1), exprs(2))
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_top_cells", exprs => {
        require(exprs.length == 4, s"vec_top_cells takes 4 arguments, got ${exprs.length}")
        VecTopCells(exprs(0), exprs(1), exprs(2), exprs(3))
      }, "built-in")
  }

  /** Column-API native dot product (see [[VecDot]]). Registration-free for
    * the same reason as [[tag_envo(c*]] — resolves against the plan's
    * session, which must carry [[GraftExtensions]] or a prior [[register]]. */
  def vec_dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_dot", a, b)

  /** Column-API IVF cell argmax / top-p (see [[VecCells]]); cells and
    * matrix must be literal columns (typedlit model state). */
  def vec_best_cell(vec: Column, cells: Column, matrix: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_best_cell", vec, cells, matrix)

  def vec_top_cells(vec: Column, cells: Column, matrix: Column, p: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_top_cells", vec, cells, matrix, p)

  /** Column-API bounded distinct-min-k aggregate (see [[BoundedMinSet]]).
    * Takes the session EXPLICITLY (like `tag_envo_with`): registering on
    * `SparkSession.active` would target the wrong registry when the
    * calling thread's active session differs from the plan's session. */
  def bounded_min_set(spark: org.apache.spark.sql.SparkSession,
                      x: Column, cap: Int): Column = {
    val name = s"bounded_min_set_$cap"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => {
        require(exprs.length == 1, s"$name takes 1 argument, got ${exprs.length}")
        BoundedMinSet(exprs.head, cap).toAggregateExpression()
      }, "built-in")
    org.apache.spark.sql.functions.call_function(name, x)
  }

  /** Column-API tagger with an INJECTED dictionary automaton: registers a
    * per-broadcast function name (`tag_envo_b<id>` — broadcast ids are
    * session-unique, so concurrent pipelines with different dictionaries
    * never collide) whose factory closes over the broadcast handle. */
  def tag_envo_with(spark: org.apache.spark.sql.SparkSession,
                    dict: org.apache.spark.broadcast.Broadcast[graft.dict.AhoCorasick],
                    c: Column): Column = {
    val name = s"tag_envo_b${dict.id}"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => TagEnvoMentions(exprs.head, Some(dict)), "built-in")
    org.apache.spark.sql.functions.call_function(name, c)
  }
}

/** SparkSessionExtensions installer:
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("tag_envo"),
      new ExpressionInfo(classOf[TagEnvoMentions].getName, "tag_envo"),
      (exprs: Seq[Expression]) => TagEnvoMentions(exprs.head)))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"vec_dot takes 2 arguments, got ${exprs.length}")
        VecDot(exprs.head, exprs(1))
      }))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("vec_best_cell"),
      new ExpressionInfo(classOf[VecBestCell].getName, "vec_best_cell"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, s"vec_best_cell takes 3 arguments, got ${exprs.length}")
        VecBestCell(exprs(0), exprs(1), exprs(2))
      }))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("vec_top_cells"),
      new ExpressionInfo(classOf[VecTopCells].getName, "vec_top_cells"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4, s"vec_top_cells takes 4 arguments, got ${exprs.length}")
        VecTopCells(exprs(0), exprs(1), exprs(2), exprs(3))
      }))
  }
}
