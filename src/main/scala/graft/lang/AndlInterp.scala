package graft.lang

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}

import AndlAst._
import AndlValues._
import graft.rel.{OrderSpec, Rel, WhileFix}
import graft.sources.Sources

/** Environment + evaluator for the Andl surface language.
  *
  * Mirrors the reference's scoped catalog (Andl.Runtime/Catalog.cs:22 —
  * global scope plus push/pop function scopes) and expression evaluator
  * (Andl.Runtime/Evaluator.cs:238+), but lowers every relational operation
  * to the graft engine ([[graft.rel.Rel]] over Spark DataFrames) instead of
  * interpreting row-at-a-time: scalar/tuple logic runs on the driver, and
  * anything relational — predicates, transforms, folds, fixpoints — is
  * compiled to Catalyst expressions by [[AndlCols]] and executed by Spark.
  *
  * Literal relations start driver-local ([[AndlValues.LRelV]], the analog
  * of the reference's in-memory DataTableLocal) and are promoted to the
  * engine the moment an operator touches them; comparisons of small
  * results collect back (bounded take) so a test script is not one Spark
  * job per `=`. Both moves are constant-bounded (1000 rows) — every
  * unbounded computation is Spark's.
  */
final class AndlInterp(val spark: SparkSession, val sourceDir: String,
                       val modes: AndlInterp.Modes) {
  import AndlInterp.Env

  /** Modes from the session conf: `spark.graft.decimalNumbers` (SURVEY
    * §1.2 numeric domain) and `spark.graft.collation` (opt-in ICU text
    * ordering), read once at construction. */
  def this(spark: SparkSession, sourceDir: String) =
    this(spark, sourceDir, AndlInterp.Modes.fromConf(spark))

  // The numeric domain and collation are PER-SESSION: captured here and
  // installed (thread-scoped, save/restore) around every public entry
  // point, so two interpreters with different modes coexist in one JVM —
  // including concurrently on different gateway worker threads.
  private def withModes[A](f: => A): A =
    AndlValues.withModes(modes.decimalNumbers, modes.collation)(f)

  /** 0 = quiet; >0 echoes free expressions (the `#noisy` directive). */
  var noisy = 0
  /** Captured `write()` / noisy output, one line per entry. */
  val output = new StringBuilder
  val global: Env = new Env(None)
  private val cols = new AndlCols(this)
  private var callDepth = 0

  /** Bound on driver-side collection for comparisons/lifts; larger
    * relations compare inside the engine (except-based). */
  private val collectLimit = 1000

  // ---------------------------------------------------------------- script

  /** Gateway SetValue (Andl.Gateway/Gateway.cs:32-102): expose an engine
    * DataFrame to scripts as a relvar. Numeric columns widen to double and
    * dates to timestamp — the language's scalar domain (SURVEY §1.2). */
  def defineRelvar(name: String, df: DataFrame): Unit = withModes {
    import org.apache.spark.sql.types._
    val colsAndTypes = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case StringType => (F.col(f.name), TText)
        case _: NumericType => (F.col(f.name).cast(AndlValues.numType).as(f.name), TNum)
        case BooleanType => (F.col(f.name), TBool)
        case TimestampType => (F.col(f.name), TTime)
        case _: TimestampNTZType | _: DateType =>
          (F.col(f.name).cast(TimestampType).as(f.name), TTime)
        case BinaryType => (F.col(f.name), TBin)
        case other => sys.error(s"relvar $name: unsupported column type $other")
      }
    }
    val heading = sortFields(df.schema.fields.toSeq.map(_.name)
      .zip(colsAndTypes.map(_._2)))
    global.define(name,
      RelV(heading, Rel.distinct(df.select(colsAndTypes.map(_._1): _*))))
  }

  /** Gateway GetEntryInfoDict analogue: names of globally bound relations
    * (local literal relations included — they promote on first touch). */
  def relvarNames: Seq[String] = global.names.filter { n =>
    global.lookup(n).exists {
      case _: RelV | _: LRelV => true
      case _ => false
    }
  }

  /** Gateway GetValue: a script-bound relation as a DataFrame. */
  def relvar(name: String): DataFrame = withModes {
    toSparkRel(global.lookup(name).getOrElse(sys.error(s"unknown relvar $name"))).rel.df
  }

  /** Set by the `#stop` directive — the rest of the script is skipped. */
  private var stopped = false

  def run(src: String, filename: String): Unit = withModes {
    stopped = false
    val stmts = AndlParser.parse(src, filename)
    stmts.foreach { s =>
      if (!stopped) execStmt(s, global) match {
        case Some(v) if noisy > 0 && v != NoneV =>
          output.append(render(v)).append('\n')
        case _ => ()
      }
    }
  }

  def runFile(path: String): Unit = {
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    run(src, new java.io.File(path).getName)
  }

  // ------------------------------------------------------------ statements

  /** Execute one statement; Some(value) for free expressions. */
  def execStmt(s: Stmt, env: Env): Option[Value] = s match {
    case SExpr(e) => Some(eval(e, env))
    case SAssign(name, e) => env.assign(name, eval(e, env)); None
    case SDef(name, params, body, defer) =>
      defineFun(env, name, params, body, defer); None
    case STypeDef(name, fields) =>
      env.define(name, TypeV(TUdt(name,
        fields.map { case (n, tr) => (n, resolveTypeRef(tr, env)) })))
      None
    case SVarDecl(name, tref, source) => varDecl(name, tref, source, env); None
    case SDirective(name, args) =>
      name match {
        case "noisy" => noisy = args.headOption.map(_.toInt).getOrElse(1)
        case "stop" => stopped = true
        case _ => () // #catalog etc — catalog persistence is the shared Env
      }
      None
    case SUpdate(name, action) => execUpdate(name, action, env); None
    case SMulti(stmts) => stmts.foreach(execStmt(_, env)); None
  }

  /** Do-block body: child scope, value = last free expression. */
  private def execBlock(stmts: Seq[Stmt], env: Env): Value = {
    var last: Value = NoneV
    stmts.foreach { s =>
      execStmt(s, env) match {
        case Some(v) => last = v
        case None => ()
      }
    }
    last
  }

  private def varDecl(name: String, tref: Option[TypeRef],
                      source: Option[String], env: Env): Unit = source match {
    case Some("csv") =>
      val path = s"$sourceDir/$name.csv"
      val heading: Seq[(String, AType)] = tref match {
        case Some(TRRelHeading(fs)) => fs.map { case (n, tr) =>
          (n, tr.map(resolveTypeRef(_, env)).getOrElse(TText)) }
        case Some(TRTupHeading(fs)) => fs.map { case (n, tr) =>
          (n, tr.map(resolveTypeRef(_, env)).getOrElse(TText)) }
        case None => // heading-less `var x(csv)`: the header's name:type pairs
          Sources.peekCsvHeading(spark, path).map { case (n, dt) =>
            (n, dt match {
              case org.apache.spark.sql.types.DoubleType => TNum
              case org.apache.spark.sql.types.TimestampType => TTime
              case org.apache.spark.sql.types.BooleanType => TBool
              case org.apache.spark.sql.types.BinaryType => TBin
              case _ => TText
            })
          }
        case other => sys.error(s"csv var $name needs a heading, got $other")
      }
      val sparkHeading = heading.map { case (n, t) => (n, sparkType(t)) }
      // small source files are collected in FILE ORDER — the reference's
      // stored order, observed by take/skip and input-order folds; large
      // files stay in the engine (order-dependent ops then need .order)
      val rel = Sources.csv(spark, path, sparkHeading)
      val rows = rel.bagDF.take(collectLimit + 1)
      if (rows.length <= collectLimit) {
        val hSorted = sortFields(heading)
        val tuples = rows.toVector.map { r =>
          TupV(hSorted.map { case (n, t) =>
            (n, fromSpark(r.get(r.fieldIndex(n)), t)) })
        }.distinct
        env.define(name, LRelV(hSorted, tuples))
      } else env.define(name, RelV(sortFields(heading), rel))
    case Some("txt") =>
      val rel = Sources.txt(spark, s"$sourceDir/$name.txt")
      env.define(name, RelV(Seq("Line" -> TText), rel))
    case Some(other) => sys.error(s"unsupported source '$other' for var $name")
    case None =>
      val t = tref.map(resolveTypeRef(_, env))
        .getOrElse(sys.error(s"var $name needs a type or source"))
      env.define(name, defaultValue(t))
  }

  private def execUpdate(name: String, action: UpdateAction, env: Env): Unit = {
    val cur = env.lookup(name).getOrElse(sys.error(s"unknown relvar $name"))
    action match {
      case UpSetop(op, e) =>
        env.assign(name, binopV(op, cur, eval(e, env), env))
      case UpWhere(predOpt, termsOpt) =>
        val r = toSparkRel(cur)
        val ctx = cols.Ctx(r.heading.toMap, Map.empty, env, None, cols.NoFold)
        val pred = predOpt.map(p => cols.compile(p, ctx).col).getOrElse(F.lit(true))
        val next = termsOpt match {
          case None | Some((_, Seq())) => r.rel.deleteWhere(pred)
          case Some((_, ts)) => r.rel.updateWhere(pred, ts.filterNot(_ == TStar).map {
            case TExtend(n, x) => n -> cols.compile(x, ctx).col
            case t => sys.error(s"update of $name: $t is not an A := e term")
          }: _*)
        }
        env.assign(name, RelV(r.heading, next))
    }
  }

  // ------------------------------------------------------------- functions

  private def kindOpt(t: Option[AType]): String = t.map(typeName).getOrElse("?")

  def defineFun(env: Env, name: String, params: Seq[Param], body: Expr,
                defer: Boolean): Unit = {
    val ps = params.map(p => (p.name, p.tref.map(resolveTypeRef(_, env))))
    val f = FunV(name, ps, body, env, defer)
    env.lookup(name) match {
      case Some(FunsV(_, ovs)) =>
        val sig = ps.map(p => kindOpt(p._2))
        val i = ovs.indexWhere(o => o.params.map(p => kindOpt(p._2)) == sig)
        if (i >= 0) ovs(i) = f else ovs += f
      case _ => env.define(name, FunsV(name, mutable.ArrayBuffer(f)))
    }
  }

  /** Resolve `name` to a callable for the given argument types — used by
    * both the driver evaluator and the Column compiler. */
  def lookupFun(name: String, argTs: Seq[AType], env: Env): Option[FunV] =
    env.lookup(name) match {
      case Some(FunsV(_, ovs)) => resolveOverload(ovs.toSeq, argTs)
      case Some(f: FunV) if f.params.length == argTs.length => Some(f)
      case _ => None
    }

  private def resolveOverload(ovs: Seq[FunV], argTs: Seq[AType]): Option[FunV] = {
    val kinds = argTs.map(typeName)
    val cands = ovs.filter(_.params.length == argTs.length).flatMap { f =>
      val pks = f.params.map(p => kindOpt(p._2))
      if (pks.zip(kinds).forall { case (pk, ak) => pk == "?" || pk == ak })
        Some((f, pks.zip(kinds).count { case (pk, ak) => pk == ak }))
      else None
    }
    if (cands.isEmpty) None else Some(cands.maxBy(_._2)._1)
  }

  def callFun(f: FunV, args: Seq[Value]): Value = {
    require(f.params.length == args.length,
      s"${f.name} expects ${f.params.length} args, got ${args.length}")
    require(callDepth < 2000, s"recursion too deep calling ${f.name}")
    callDepth += 1
    try {
      val child = f.closure.child()
      f.params.zip(args).foreach { case ((n, _), v) => child.define(n, v) }
      eval(f.body, child)
    } finally callDepth -= 1
  }

  // ------------------------------------------------------------ expressions

  def eval(e: Expr, env: Env): Value = e match {
    case ENum(v)     => NumV(v)
    case EText(s)    => TextV(s)
    case EBool(b)    => BoolV(b)
    case ETimeLit(s) => TimeV(parseTime(s))
    case EBinLit(h)  => BinV(parseBinary(h))
    case EVar(n)     => evalVar(n, env, e.line)
    case EUnop("not", x) => eval(x, env) match {
      case BoolV(b) => BoolV(!b)
      case other => sys.error(s"not of $other")
    }
    case EUnop("-", x) => eval(x, env) match {
      case NumV(d) => NumV(-d)
      case other => sys.error(s"negation of $other")
    }
    case EUnop(op, _) => sys.error(s"unknown unary $op")
    case EBinop(op, l, r) => binopV(op, eval(l, env), eval(r, env), env)
    case EIf(c, a, b) => eval(c, env) match {
      case BoolV(true)  => eval(a, env)
      case BoolV(false) => eval(b, env)
      case other => sys.error(s"if condition is $other, not bool")
    }
    case ECall(name, args) => callNamed(name, args, env, e.line)
    case EFold(op, _) =>
      sys.error(s"fold($op,…) is only allowed inside a transform (line ${e.line})")
    case EDo(stmts) => execBlock(stmts, env.child())
    case ETuple(terms) =>
      TupV(sortFields2(terms.flatMap {
        case TExtend(n, x) => Seq((n, eval(x, env)))
        case TProj(n) => Seq((n, evalVar(n, env, e.line)))
        case TRename(n, old) => Seq((n, evalVar(old, env, e.line)))
        case TStar => env.lookup("__tuple__") match {
          // {*}: the current tuple, in row scopes (correlated queries)
          case Some(TupV(fields)) => fields
          case _ => sys.error(s"{*} is only valid in a row scope (line ${e.line})")
        }
        case other => sys.error(s"bad tuple term $other")
      }))
    case ERelRows(rows) =>
      val tuples = rows.map {
        case t: ETuple => eval(t, env).asInstanceOf[TupV]
        case v: EVar => eval(v, env) match {
          case t: TupV => t
          case other => sys.error(s"relation row is $other, not a tuple")
        }
        case other => sys.error(s"bad relation row $other")
      }
      localRel(tuples.headOption.map(t => t.fields.map { case (n, v) => (n, typeOf(v)) })
        .getOrElse(Nil), tuples)
    case ERelHeaded(headingRef, rows) =>
      val heading = headingRef.map(headingOf(_, env)).getOrElse(Nil)
      // rows are positional in DECLARED attribute order
      val declared = headingRef.map(declaredOrder(_, env)).getOrElse(Nil)
      val tuples = rows.map { vals =>
        require(vals.length == declared.length,
          s"row has ${vals.length} values for ${declared.length} attributes (line ${e.line})")
        TupV(sortFields2(declared.zip(vals).map { case ((n, _), x) => (n, eval(x, env)) }))
      }
      localRel(heading, tuples)
    case ERelOf(tuples) =>
      val ts = tuples.map(eval(_, env)).map {
        case t: TupV => t
        case other => sys.error(s"rel() argument is $other, not a tuple")
      }
      localRel(ts.headOption.map(_.fields.map { case (n, v) => (n, typeOf(v)) })
        .getOrElse(Nil), ts)
    case EFunDef(params, body) =>
      FunV("λ", params.map(p => (p.name, p.tref.map(resolveTypeRef(_, env)))), body, env)
    case EPostfix(recv, ops) => evalPostfix(recv, ops, env)
  }

  def evalVar(n: String, env: Env, line: Int = 0): Value =
    env.lookup(n) match {
      case Some(f: FunV) if f.defer => callFun(f, Nil)
      case Some(FunsV(_, ovs)) if ovs.length == 1 && ovs(0).defer =>
        callFun(ovs(0), Nil)
      case Some(FunsV(_, ovs)) if ovs.length == 1 => ovs(0)
      case Some(v) => v
      case None => n match {
        case "wait" => NoneV // interactive pause — headless no-op
        case "andl_catalog" =>
          val rows = env.names.map(nm => TupV(Seq("Name" -> TextV(nm)))).toVector
          LRelV(Seq("Name" -> TText), rows.distinct)
        case _ => sys.error(s"unknown variable $n at line $line")
      }
    }

  // --------------------------------------------------------------- postfix

  private def evalPostfix(recv0: Expr, ops0: Seq[PostOp], env: Env): Value = {
    // the parser nests one EPostfix per dot — flatten so `.order` context
    // reaches the following `.select`
    var recv = recv0
    var ops = ops0
    var flat = true
    while (flat) recv match {
      case EPostfix(r2, o2) => recv = r2; ops = o2 ++ ops
      case _ => flat = false
    }
    var cur = eval(recv, env)
    var pending: Option[Seq[OrderTerm]] = None
    ops.foreach {
      case POrder(terms) => cur = attachOrder(cur, terms); pending = Some(terms)
      case PWhere(pred) => cur = relWhere(cur, pred, env); pending = None
      case PSelect(star, terms) =>
        cur = applySelect(cur, star, terms, pending, env); pending = None
      case PWhile(step) => cur = applyWhile(cur, step, env); pending = None
      case PCall(args) => cur match {
        case f: FunV => cur = callFun(f, args.map(eval(_, env)))
        case FunsV(_, ovs) =>
          val vs = args.map(eval(_, env))
          val f = resolveOverload(ovs.toSeq, vs.map(typeOf))
            .getOrElse(sys.error(s"no matching overload"))
          cur = callFun(f, vs)
        case other => sys.error(s"cannot call $other")
      }
      case PDot(name, argsOpt) => cur = applyDot(cur, name, argsOpt, env)
    }
    cur
  }

  private def applyDot(v: Value, name: String, argsOpt: Option[Seq[Expr]],
                       env: Env): Value = {
    val args = argsOpt.getOrElse(Nil).map(eval(_, env))
    v match {
      case r @ (_: RelV | _: LRelV) => name match {
        case "count"  => NumV(relCount(r).toDouble)
        case "degree" => NumV(relHeading(r).length.toDouble)
        case "schema" => schemaVal(relHeading(r))
        case "take"   => relTake(r, numArg(args, name))
        case "skip"   => relSkip(r, numArg(args, name))
        case "pp"     => TextV(render(r))
        case _ => dotFallback(v, name, args)
      }
      case TupV(fields) if fields.exists(_._1 == name) =>
        dotComponent(fields.find(_._1 == name).get._2, args)
      case UdtV(_, fields) if fields.exists(_._1 == name) =>
        dotComponent(fields.find(_._1 == name).get._2, args)
      case other => dotFallback(other, name, args)
    }
  }

  private def dotComponent(field: Value, args: Seq[Value]): Value = field match {
    case f: FunV if args.nonEmpty => callFun(f, args)
    case v => require(args.isEmpty, s"component is not a function"); v
  }

  private def dotFallback(v: Value, name: String, args: Seq[Value]): Value =
    builtin(name, v +: args)
      .orElse(lookupFun(name, (v +: args).map(typeOf), global)
        .map(f => callFun(f, v +: args)))
      .getOrElse(sys.error(s"unknown method .$name on ${typeName(typeOf(v))}"))

  private def numArg(args: Seq[Value], op: String): Int = args match {
    case Seq(NumV(d)) => d.toInt
    case other => sys.error(s"$op expects one number, got $other")
  }

  // ----------------------------------------------------------------- calls

  private def callNamed(name: String, argEs: Seq[Expr], env: Env, line: Int): Value = {
    env.lookup(name) match {
      case Some(FunsV(_, ovs)) =>
        val args = argEs.map(eval(_, env))
        resolveOverload(ovs.toSeq, args.map(typeOf)) match {
          case Some(f) => callFun(f, args)
          case None => sys.error(s"no overload of $name matches " +
            args.map(a => typeName(typeOf(a))).mkString("(", ",", ")") + s" at line $line")
        }
      case Some(f: FunV) => callFun(f, argEs.map(eval(_, env)))
      case Some(TypeV(TUdt(un, fields))) =>
        val args = argEs.map(eval(_, env))
        require(args.length == fields.length,
          s"$un expects ${fields.length} components, got ${args.length}")
        UdtV(un, fields.map(_._1).zip(args))
      case _ =>
        builtin(name, argEs.map(eval(_, env)))
          .getOrElse(sys.error(s"unknown function $name at line $line"))
    }
  }

  /** Driver-side builtins — the mirror of [[AndlCols.scalarBuiltin]] for
    * top-level (non-relational) evaluation. */
  private def builtin(name: String, a: Seq[Value]): Option[Value] = (name, a) match {
    case ("length", Seq(TextV(s)))  => Some(NumV(s.length.toDouble))
    case ("trim", Seq(TextV(s)))    => Some(TextV(s.trim))
    case ("toupper", Seq(TextV(s))) => Some(TextV(s.toUpperCase))
    case ("tolower", Seq(TextV(s))) => Some(TextV(s.toLowerCase))
    case ("left", Seq(TextV(s), NumV(n))) =>
      Some(TextV(if (n < 0) "" else if (s.length >= n.toInt) s.take(n.toInt)
        else s.padTo(n.toInt, ' ')))
    case ("right", Seq(TextV(s), NumV(n))) =>
      Some(TextV(if (n < 0) "" else if (s.length >= n.toInt) s.takeRight(n.toInt)
        else (" " * (n.toInt - s.length)) + s))
    case ("fill", Seq(TextV(s), NumV(n))) =>
      Some(TextV(if (n <= 0 || s.isEmpty) ""
        else (s * (n.toInt / s.length + 1)).take(n.toInt)))
    case ("before", Seq(TextV(s), TextV(t))) =>
      val i = s.indexOf(t); Some(TextV(if (i < 0) s else s.substring(0, i)))
    case ("after", Seq(TextV(s), TextV(t))) =>
      val i = s.indexOf(t); Some(TextV(if (i < 0) "" else s.substring(i + t.length)))
    case ("mod", Seq(a: NumV, b: NumV)) => Some(scalarBinop("mod", a, b))
    case ("div", Seq(a: NumV, b: NumV)) => Some(scalarBinop("div", a, b))
    case ("max", Seq(x, y)) => Some(if (compare(x, y) >= 0) x else y)
    case ("min", Seq(x, y)) => Some(if (compare(x, y) <= 0) x else y)
    case ("abs", Seq(NumV(d)))    => Some(NumV(math.abs(d)))
    // pipeline-signal mirrors of AndlCols' engine-tier builtins
    case ("tokens", Seq(TextV(s))) =>
      Some(NumV(if (s.trim.isEmpty) 0.0 else s.trim.split("\\s+").length.toDouble))
    case ("fingerprint", Seq(TextV(s))) =>
      val norm = s.trim.toLowerCase.replaceAll("\\s+", " ")
      Some(TextV(java.security.MessageDigest.getInstance("MD5")
        .digest(norm.getBytes("UTF-8")).map("%02x".format(_)).mkString))
    case ("deflate", Seq(TextV(s))) =>
      val bytes = s.getBytes("UTF-8")
      Some(NumV(if (bytes.isEmpty) 1.0 else {
        val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
        try {
          d.setInput(bytes); d.finish()
          val buf = new Array[Byte](8192)
          var total = 0L
          while (!d.finished()) total += d.deflate(buf)
          total.toDouble / bytes.length
        } finally d.end()
      }))
    case ("normalize", Seq(TextV(s))) =>
      Some(TextV(java.text.Normalizer.normalize(
        s.toLowerCase(java.util.Locale.ROOT), java.text.Normalizer.Form.NFC)
        .replaceAll("\\s+", " ").trim))
    // driver-tier replicas of the engine-tier pipeline signals (AndlCols):
    // identical formulas/regexes so small driver-local relations and
    // Spark-lowered ones agree bit-for-bit
    case ("quality", Seq(TextV(s))) => Some(NumV(DriverSignals.quality(s)))
    case ("langid", Seq(TextV(s))) => Some(TextV(DriverSignals.langId(s)))
    case ("scrub", Seq(TextV(s))) => Some(TextV(DriverSignals.scrubAll(s)))
    case ("htmltext", Seq(TextV(s))) => Some(TextV(DriverSignals.htmlToText(s)))
    case ("number", Seq(TextV(s))) => Some(NumV(s.trim.toDouble))
    case ("number", Seq(NumV(d)))  => Some(NumV(d))
    case ("text", Seq(x))   => Some(TextV(render(x)))
    case ("type", Seq(x))   => Some(TextV(typeName(typeOf(x))))
    case ("format", Seq(x)) => Some(TextV(render(x)))
    case ("pp", Seq(x))     => Some(TextV(render(x)))
    case ("now", Seq()) =>
      Some(TimeV(new java.sql.Timestamp(System.currentTimeMillis())))
    // `date` subtype of time (Builtin.cs:1022-1068): dates are midnight
    // times; dow is C# DayOfWeek+1 (Sunday=1..Saturday=7)
    case ("date", Seq(TimeV(t))) =>
      Some(TimeV(java.sql.Timestamp.valueOf(t.toLocalDateTime.toLocalDate.atStartOfDay)))
    case ("dateymd", Seq(NumV(y), NumV(m), NumV(d))) =>
      Some(TimeV(java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(y.toInt, m.toInt, d.toInt).atStartOfDay)))
    case ("time", Seq(t: TimeV)) => Some(t)
    case ("year", Seq(TimeV(t)))  => Some(NumV(t.toLocalDateTime.getYear.toDouble))
    case ("month", Seq(TimeV(t))) => Some(NumV(t.toLocalDateTime.getMonthValue.toDouble))
    case ("day", Seq(TimeV(t)))   => Some(NumV(t.toLocalDateTime.getDayOfMonth.toDouble))
    case ("dow", Seq(TimeV(t))) =>
      Some(NumV((t.toLocalDateTime.getDayOfWeek.getValue % 7 + 1).toDouble))
    case ("daysdiff", Seq(TimeV(a), TimeV(b))) =>
      Some(NumV(java.time.temporal.ChronoUnit.DAYS.between(
        b.toLocalDateTime.toLocalDate, a.toLocalDateTime.toLocalDate).toDouble))
    case ("write", Seq(x)) =>
      output.append(x match { case TextV(s) => s; case v => render(v) }).append('\n')
      Some(NoneV)
    case ("read", Seq()) => Some(TextV("")) // headless: EOF
    case ("wait", _) | ("pause", _) => Some(NoneV)
    case ("fail", Seq(TextV(code), TextV(msg))) =>
      sys.error(s"fail($code): $msg")
    case ("assert", Seq(BoolV(c), TextV(msg))) =>
      if (!c) sys.error(s"assert failed: $msg"); Some(NoneV)
    case ("seq", Seq(NumV(n))) =>
      // engine source: distributed range (Builtin.Sequence); N as number
      val r = Rel.distinct(spark.range(n.toLong)
        .select(F.col("id").cast("double").as("N")))
      Some(RelV(Seq("N" -> TNum), r))
    // catalog introspection tables (Catalog.cs:101-105 headings;
    // Builtin.cs:824-838): Members holds the tuple/UDT unique name or ""
    case ("andl_variable", Seq()) =>
      val rows = global.names.distinct.flatMap { nm =>
        global.lookup(nm) match {
          case Some(_: FunsV) | Some(_: TypeV) | None => None
          case Some(v) =>
            val t = typeOf(v)
            Some(TupV(sortFields2(Seq("Name" -> TextV(nm),
              "Type" -> TextV(typeName(t)),
              "Members" -> TextV(t match {
                case TUdt(n, _) => n
                case _: TTup | _: TRel => typeName(t)
                case _ => ""
              })))))
        }
      }
      Some(LRelV(sortFields(Seq("Name" -> TText, "Type" -> TText,
        "Members" -> TText)), rows.toVector.distinct))
    case ("andl_operator", Seq()) =>
      val rows = global.names.distinct.flatMap { nm =>
        global.lookup(nm) match {
          case Some(FunsV(_, ovs)) => ovs.map { f =>
            TupV(sortFields2(Seq("Name" -> TextV(nm),
              "Type" -> TextV("code"), "Members" -> TextV(""),
              "Arguments" -> TextV(f.params.map(_._1).mkString(",")))))
          }
          case _ => Nil
        }
      }
      Some(LRelV(sortFields(Seq("Name" -> TText, "Type" -> TText,
        "Members" -> TText, "Arguments" -> TText)), rows.toVector.distinct))
    case ("andl_member", Seq()) =>
      val rows = global.names.distinct.flatMap { nm =>
        global.lookup(nm) match {
          case Some(TypeV(TUdt(un, fields))) => fields.zipWithIndex.map {
            case ((fn, ft), i) =>
              TupV(sortFields2(Seq("MemberOf" -> TextV(un),
                "Index" -> NumV(i + 1), "Name" -> TextV(fn),
                "Type" -> TextV(typeName(ft)), "Members" -> TextV(""))))
          }
          case _ => Nil
        }
      }
      Some(LRelV(sortFields(Seq("MemberOf" -> TText, "Index" -> TNum,
        "Name" -> TText, "Type" -> TText, "Members" -> TText)),
        rows.toVector.distinct))
    case ("count", Seq(r @ (_: RelV | _: LRelV)))  => Some(NumV(relCount(r).toDouble))
    case ("degree", Seq(r @ (_: RelV | _: LRelV))) => Some(NumV(relHeading(r).length.toDouble))
    case ("schema", Seq(r @ (_: RelV | _: LRelV))) => Some(schemaVal(relHeading(r)))
    case _ => None
  }

  // ---------------------------------------------------------- driver binops

  def binopV(op: String, l: Value, r: Value, env: Env): Value = {
    def isRel(v: Value) = v.isInstanceOf[RelV] || v.isInstanceOf[LRelV]
    op match {
      case "=" => BoolV(genericEquals(l, r))
      case "<>" => BoolV(!genericEquals(l, r))
      case _ if isRel(l) && isRel(r) => relBinop(op, l, r)
      case _ => (l, r) match {
        case (lt: TupV, rt: TupV) => tupleBinop(op, lt, rt)
        case _ => scalarBinop(op, l, r)
      }
    }
  }

  private def genericEquals(l: Value, r: Value): Boolean = (l, r) match {
    case (a @ (_: RelV | _: LRelV), b @ (_: RelV | _: LRelV)) => relValEquals(a, b)
    case (a, b) => valueEquals(a, b)
  }

  private def tupleBinop(op: String, l: TupV, r: TupV): Value = {
    val ln = l.fields.map(_._1).toSet
    val rn = r.fields.map(_._1).toSet
    op match {
      case "union" => TupV(sortFields2(l.fields ++ r.fields.filterNot(f => ln(f._1))))
      case "intersect" => TupV(l.fields.filter(f => rn(f._1)))
      case "minus" => TupV(l.fields.filterNot(f => rn(f._1)))
      case "rminus" => TupV(r.fields.filterNot(f => ln(f._1)))
      case "symdiff" => TupV(sortFields2(
        l.fields.filterNot(f => rn(f._1)) ++ r.fields.filterNot(f => ln(f._1))))
      case other => sys.error(s"tuple operator $other not supported")
    }
  }

  private def scalarBinop(op: String, l: Value, r: Value): Value = (op, l, r) match {
    case ("+", NumV(a), NumV(b)) => NumV(a + b)
    case ("-", NumV(a), NumV(b)) => NumV(a - b)
    case ("*", NumV(a), NumV(b)) => NumV(a * b)
    case ("/", NumV(a), NumV(b)) => NumV(a / b)
    case ("**", NumV(a), NumV(b)) => NumV(math.pow(a, b))
    case ("div", NumV(a), NumV(b)) => NumV((a.toLong / b.toLong).toDouble)
    case ("mod", NumV(a), NumV(b)) => NumV((a.toLong % b.toLong).toDouble)
    case ("&", a, b) => TextV(render(a) + render(b))
    case ("and", BoolV(a), BoolV(b)) => BoolV(a && b)
    case ("or", BoolV(a), BoolV(b))  => BoolV(a || b)
    case ("xor", BoolV(a), BoolV(b)) => BoolV(a ^ b)
    case ("and", NumV(a), NumV(b)) => NumV((a.toLong & b.toLong).toDouble)
    case ("or", NumV(a), NumV(b))  => NumV((a.toLong | b.toLong).toDouble)
    case ("xor", NumV(a), NumV(b)) => NumV((a.toLong ^ b.toLong).toDouble)
    case ("<", a, b)  => BoolV(compare(a, b) < 0)
    case ("<=", a, b) => BoolV(compare(a, b) <= 0)
    case (">", a, b)  => BoolV(compare(a, b) > 0)
    case (">=", a, b) => BoolV(compare(a, b) >= 0)
    case ("=~", TextV(s), TextV(re)) =>
      BoolV(java.util.regex.Pattern.compile(re).matcher(s).find())
    case (o, a, b) => sys.error(s"operator $o not defined for " +
      s"${a.getClass.getSimpleName}, ${b.getClass.getSimpleName}")
  }

  // ------------------------------------------------------- relation helpers

  def relHeading(v: Value): Seq[(String, AType)] = v match {
    case RelV(h, _) => h
    case LRelV(h, _) => h
    case other => sys.error(s"$other is not a relation")
  }

  def relCount(v: Value): Long = v match {
    case RelV(h, rel) => rel.count()
    case LRelV(_, rows) => rows.length.toLong
    case other => sys.error(s"count of $other")
  }

  /** Promote a driver-local relation into the engine. */
  def toSparkRel(v: Value): RelV = v match {
    case r: RelV => r
    case LRelV(h, rows) =>
      require(!h.exists(_._2.isInstanceOf[TFun]),
        "relations holding function values are driver-local only")
      relFromTuples(spark, h, rows)
    case other => sys.error(s"$other is not a relation")
  }

  /** Driver rows of a relation if it is small (≤ limit); heading order. */
  private def collectRows(v: Value, limit: Int): Option[Vector[TupV]] = v match {
    case LRelV(_, rows) => Some(rows)
    case r @ RelV(h, rel) =>
      if (h.isEmpty) return Some(if (rel.count() > 0) Vector(TupV(Nil)) else Vector.empty)
      // honor a stored `.order` so driver-local fallbacks see the same
      // physical order the reference's stored table would have
      val df0 = r.storedOrder match {
        case Some(terms) => rel.df.orderBy(sortColsOf(terms, h): _*)
        case None => rel.df
      }
      val rows = df0.select(h.map(f => F.col(f._1)): _*).take(limit + 1)
      if (rows.length > limit) None
      else Some(rows.toVector.map(r => rowToValue(r, h)).distinct)
    case _ => None
  }

  def relValEquals(a: Value, b: Value): Boolean = {
    val (ha, hb) = (relHeading(a), relHeading(b))
    if (ha.map(f => (f._1, typeName(f._2))) != hb.map(f => (f._1, typeName(f._2))))
      return false
    if (ha.isEmpty) return (relCount(a) > 0) == (relCount(b) > 0)
    (collectRows(a, collectLimit), collectRows(b, collectLimit)) match {
      case (Some(ra), Some(rb)) => ra.toSet == rb.toSet
      case _ => toSparkRel(a).rel.relEquals(toSparkRel(b).rel)
    }
  }

  private def relSubV(a: Value, b: Value): Boolean = {
    val (ha, hb) = (relHeading(a), relHeading(b))
    if (ha.isEmpty || hb.isEmpty) return relCount(a) == 0 ||
      (ha.isEmpty && hb.isEmpty && relCount(b) > 0)
    (collectRows(a, collectLimit), collectRows(b, collectLimit)) match {
      case (Some(ra), Some(rb)) => ra.toSet.subsetOf(rb.toSet)
      case _ => toSparkRel(a).rel.sub(toSparkRel(b).rel)
    }
  }

  private def relSepV(a: Value, b: Value): Boolean = {
    val (ha, hb) = (relHeading(a), relHeading(b))
    if (ha.isEmpty || hb.isEmpty) return relCount(a) == 0 || relCount(b) == 0
    (collectRows(a, collectLimit), collectRows(b, collectLimit)) match {
      case (Some(ra), Some(rb)) => ra.toSet.intersect(rb.toSet).isEmpty
      case _ => toSparkRel(a).rel.sep(toSparkRel(b).rel)
    }
  }

  /** Dyadic relational operators — all lowered to the engine. The join-
    * alias family maps onto the reference's JoinOps flag combinations
    * (Andl.Runtime/Evaluator.cs:54-82, exercised by SuiteRelDyadic). */
  private def relBinop(op: String, l: Value, r: Value): Value = op match {
    case "sub" => BoolV(relSubV(l, r))
    case "sup" => BoolV(relSubV(r, l))
    case "sep" => BoolV(relSepV(l, r))
    case _ =>
      val a = toSparkRel(l); val b = toSparkRel(r)
      val types = (a.heading ++ b.heading).toMap
      val rel = op match {
        case "join" => a.rel.join(b.rel)
        case "compose" | "joinlr" => a.rel.compose(b.rel)
        case "semijoin" | "matching" | "joinlc" => a.rel.semijoin(b.rel)
        case "rsemijoin" | "joincr" => a.rel.rsemijoin(b.rel)
        case "ajoin" | "notmatching" => a.rel.ajoin(b.rel)
        case "rajoin" => a.rel.rajoin(b.rel)
        case "divide" | "joinl" => a.rel.divide(b.rel)
        case "rdivide" | "joinr" => a.rel.rdivide(b.rel)
        case "ajoinl" => a.rel.ajoinl(b.rel)
        case "rajoinr" => a.rel.rajoinr(b.rel)
        case "union" => a.rel.union(b.rel)
        case "intersect" => a.rel.intersect(b.rel)
        case "minus" => a.rel.minus(b.rel)
        case "rminus" => a.rel.rminus(b.rel)
        case "symdiff" => a.rel.symdiff(b.rel)
        case other => sys.error(s"relational operator $other not supported")
      }
      RelV(sortFields(rel.attrs.map(n => (n, types(n)))), rel)
  }

  // ----------------------------------------------------- relational postfix

  private def relWhere(v: Value, pred: Expr, env: Env): Value = {
    val res =
      try {
        val r = toSparkRel(v)
        val ctx = cols.Ctx(r.heading.toMap, Map.empty, env, None, cols.NoFold)
        RelV(r.heading, r.rel.where(cols.compile(pred, ctx).col))
      } catch {
        case e: Exception =>
          // correlated predicates Catalyst can't express as one Column
          // (`{{*}} join R`-style membership, SPPsample1.andl Q1/Q3/Q4):
          // bounded row-at-a-time fallback, the reference's own strategy
          collectRows(v, collectLimit) match {
            case Some(rows) =>
              val h = relHeading(v)
              val kept = rows.filter { tup => rowEval(tup, pred, env) == BoolV(true) }
              LRelV(h, kept)
            case None => throw e
          }
      }
    // Restrict preserves stored physical order (DataTableLocal.Restrict)
    withStoredOrder(res, storedOrderOf(v))
  }

  /** Evaluate an expression in a row scope (attributes + `{*}` bound). */
  private def rowEval(tup: TupV, e: Expr, env: Env): Value = {
    val rowEnv = env.child()
    tup.fields.foreach { case (n, fv) => rowEnv.define(n, fv) }
    rowEnv.define("__tuple__", tup)
    eval(e, rowEnv)
  }

  private def relTake(v: Value, n: Int): Value = v match {
    case lr @ LRelV(h, rows) => // stored order, like the reference
      withStoredOrder(LRelV(h, rows.take(n)), lr.storedOrder)
    case r @ RelV(h, rel) =>
      // an ordered relation takes its FIRST n under the stored sort
      // (TakeOrderedAndProject — distributed, never a full collect)
      val df = r.storedOrder match {
        case Some(terms) => rel.df.orderBy(sortColsOf(terms, h): _*).limit(n)
        case None => rel.df.limit(n)
      }
      withStoredOrder(RelV(h, Rel.distinct(df)), r.storedOrder)
    case other => sys.error(s"take on $other")
  }

  private def relSkip(v: Value, n: Int): Value = v match {
    case lr @ LRelV(h, rows) =>
      withStoredOrder(LRelV(h, rows.drop(n)), lr.storedOrder)
    case r @ RelV(h, rel) =>
      val df = r.storedOrder match {
        case Some(terms) => rel.df.orderBy(sortColsOf(terms, h): _*).offset(n)
        case None => rel.df.offset(n)
      }
      withStoredOrder(RelV(h, Rel.distinct(df)), r.storedOrder)
    case other => sys.error(s"skip on $other")
  }

  private def schemaVal(h: Seq[(String, AType)]): Value =
    LRelV(Seq("Name" -> TText, "Type" -> TText),
      h.toVector.map { case (n, t) =>
        TupV(Seq("Name" -> TextV(n), "Type" -> TextV(typeName(t))))
      }.distinct)

  /** Sort key for one field: TEXT columns wrap in the session's opt-in ICU
    * collation (AndlValues.collation — approximating the reference's .NET
    * CurrentCulture ordering, TypedValue.cs:447-449); everything else, and
    * the default mode, is the plain column (JVM/UTF8 binary for text — the
    * documented deviation CollationSpec enumerates). */
  private def sortKeyCol(field: String, heading: Seq[(String, AType)]): Column =
    AndlValues.collation match {
      case Some(name) if heading.exists(f => f._1 == field && f._2 == TText) =>
        F.collate(F.col(field), name)
      case _ => F.col(field)
    }

  private def orderSpecOf(terms: Seq[OrderTerm],
                          heading: Seq[(String, AType)]): OrderSpec = {
    val groupBy = terms.filter(_.group).map(_.field)
    val plain = terms.filterNot(_.group)
    def key(t: OrderTerm) = sortKeyCol(t.field, heading)
    val sort0 = plain.map(t => if (t.desc) key(t).desc else key(t).asc)
    val sort = if (sort0.nonEmpty) sort0 else groupBy.map(f => sortKeyCol(f, heading))
    val raw = if (plain.nonEmpty) plain.map(t => F.col(t.field)) else groupBy.map(F.col)
    OrderSpec(groupBy, sort, raw)
  }

  /** Sort columns of a stored order: ALL terms in sequence (a grouped `%`
    * segment is still a physical sort segment in the reference's
    * OrderedIndex). */
  private def sortColsOf(terms: Seq[OrderTerm],
                         heading: Seq[(String, AType)]): Seq[Column] =
    terms.map { t =>
      val k = sortKeyCol(t.field, heading)
      if (t.desc) k.desc else k.asc
    }

  def storedOrderOf(v: Value): Option[Seq[OrderTerm]] = v match {
    case r: RelV => r.storedOrder
    case l: LRelV => l.storedOrder
    case _ => None
  }

  private def withStoredOrder(v: Value, terms: Option[Seq[OrderTerm]]): Value = {
    terms.foreach { t =>
      v match {
        case r: RelV => r.storedOrder = Some(t)
        case l: LRelV => l.storedOrder = Some(t)
        case _ => ()
      }
    }
    v
  }

  /** Trailing `.order`: the reference physically sorts the stored table
    * (DataTableLocal via OrderedIndex.cs:74+); later input-order folds,
    * take/skip, lift and pp observe that order. Local rows sort eagerly;
    * engine relations record the spec (consumers sort on demand — an eager
    * Spark sort feeding a shuffle would be thrown away anyway). */
  private def attachOrder(v: Value, terms: Seq[OrderTerm]): Value = v match {
    case RelV(h, rel) =>
      val r = RelV(h, rel); r.storedOrder = Some(terms); r
    case LRelV(h, rows) =>
      val sorted = rows.sortWith { (a, b) =>
        val am = a.fields.toMap; val bm = b.fields.toMap
        var r = 0
        terms.iterator
          .find { t =>
            r = AndlValues.sortCompare(am(t.field), bm(t.field))
            if (t.desc) r = -r
            r != 0
          }
        r < 0
      }
      val l = LRelV(h, sorted); l.storedOrder = Some(terms); l
    case other => sys.error(s".order on ${other.getClass.getSimpleName}")
  }

  // ---------------------------------------------------------------- select

  /** `.select{…}` / `.{…}` — the Andl transform: projection, rename,
    * extension, aggregation (fold), ordered transforms, and lift, lowered
    * to the engine (reference: Builtin.Transform family, Builtin.cs:414-517
    * and TransformOrdered, DataTableLocal.cs:589-627). */
  def applySelect(v: Value, star: Boolean, terms: Seq[Term],
                  order: Option[Seq[OrderTerm]], env: Env): Value = {
    // relations holding function values evaluate row-wise on the driver
    v match {
      case lr @ LRelV(h, _) if h.exists(_._2.isInstanceOf[TFun]) =>
        return localSelect(lr, star, terms, env)
      case t: TupV => return tupleSelect(t, star, terms, env)
      case _ => ()
    }
    // stored physical order from a trailing `.order` on the receiver (only
    // when no explicit .order is in this chain) — input-order folds, lift
    // and the output's presentation order observe it, like the reference's
    // sorted DataTableLocal
    val stored = if (order.isEmpty) storedOrderOf(v) else None

    val lifts = terms.collect { case TLift(x) => x }
    if (lifts.nonEmpty) {
      require(terms.length == 1, "lift must be the only transform term")
      return lift(v, lifts.head, order.orElse(stored), env)
    }

    val r = toSparkRel(v)
    val attrs = r.heading
    val headingMap = attrs.toMap
    val specOpt = order.map(orderSpecOf(_, attrs))

    // name → Left(source attribute) | Right(computed expression)
    val out: Seq[(String, Either[String, Expr])] =
      if (star) {
        val removed = terms.collect { case TProj(n) => n }.toSet
        val renamedOld = terms.collect { case TRename(_, o) => o }.toSet
        val replaced = terms.collect { case TExtend(n, _) => n }.toSet // {* a := e} replaces a
        attrs.map(_._1).filterNot(n => removed(n) || renamedOld(n) || replaced(n))
          .map(n => n -> Left(n)) ++
          terms.collect {
            case TRename(n, o) => n -> Left(o)
            case TExtend(n, x) => n -> (Right(x): Either[String, Expr])
          }
      } else terms.map {
        case TProj(n) => n -> Left(n)
        case TRename(n, o) => n -> Left(o)
        case TExtend(n, x) => n -> (Right(x): Either[String, Expr])
        case TStar => sys.error("* only valid as first transform term")
        case _: TLift => sys.error("unreachable")
      }

    val foldFlag = out.map {
      case (_, Right(x)) => cols.containsFold(x, env)
      case _ => false
    }
    // ordg() needs the scale-safe two-pass global ordinal precomputed as a
    // column (Ordered.withOrdg — never a single-partition window)
    def mentionsFn(x: Expr, names: Set[String]): Boolean = x match {
      case ECall(n, _) if names(n) => true
      case EBinop(_, a, b) => mentionsFn(a, names) || mentionsFn(b, names)
      case EUnop(_, a) => mentionsFn(a, names)
      case EIf(a, b, c) =>
        mentionsFn(a, names) || mentionsFn(b, names) || mentionsFn(c, names)
      case ECall(_, as) => as.exists(mentionsFn(_, names))
      case EFold(_, a) => mentionsFn(a, names)
      case _ => false
    }
    def mentionsOrdg(x: Expr): Boolean = mentionsFn(x, Set("ordg"))
    // window offset/ordinal builtins in an UNGROUPED ordered select lower
    // through the segmented machinery (graft.rel.Segmented), never a
    // single-partition window
    def mentionsWin(x: Expr): Boolean =
      mentionsFn(x, Set("lag", "lead", "nth", "ord", "rank"))
    val needOrdg = specOpt.isDefined && out.exists {
      case (_, Right(x)) => mentionsOrdg(x)
      case _ => false
    }
    val baseDf0 =
      if (needOrdg) graft.rel.Ordered.withOrdg(r.rel.df, specOpt.get, "__ordg")
      else r.rel.df
    val ordgBind: Map[String, cols.CExpr] =
      if (needOrdg) Map("__ordg__" -> cols.CExpr(F.col("__ordg").cast("double"), TNum))
      else Map.empty
    // UNGROUPED ordered select with window builtins but no folds: prepare
    // the segmented frame so lag/lead/nth/ord/rank compile to ordinal
    // self-joins / partitioned windows instead of one global partition
    val anyFold = foldFlag.exists(identity)
    val segNonFold = specOpt.exists(_.groupBy.isEmpty) && !anyFold &&
      out.exists { case (_, Right(x)) => mentionsWin(x); case _ => false }
    val (baseDf, segOpt) =
      if (segNonFold) {
        val (p, s) = graft.rel.Segmented.prepare(baseDf0, specOpt.get.sort)
        (p, Some(s))
      } else (baseDf0, None)
    val rowCtx = cols.Ctx(headingMap, ordgBind, env, specOpt, cols.NoFold,
      seg = segOpt)
    def compileRow(t: (String, Either[String, Expr]),
                   ctx: cols.Ctx = rowCtx): (String, cols.CExpr) = t match {
      case (n, Left(a)) => n -> cols.CExpr(F.col(a),
        headingMap.getOrElse(a, sys.error(s"unknown attribute $a")))
      case (n, Right(x)) => n -> cols.compile(x, ctx)
    }

    if (!foldFlag.exists(identity)) {
      // correlated image-relation terms `p := ({{*}} rdivide R)` extend each
      // tuple with its partition of R (Sample/sample3.andl ES3): lowered to
      // nest(R) + ONE left broadcast-able join, not a per-tuple query
      def isStarSingleton(x: Expr) = x match {
        case ERelRows(Seq(ETuple(Seq(TStar)))) => true
        case _ => false
      }
      var df = baseDf
      var corrIdx = 0
      val corr = mutable.Map[String, cols.CExpr]()
      val out2 = out.map {
        case (n, Right(EBinop("rdivide", sr, rhsE))) if isStarSingleton(sr) =>
          val rhs = toSparkRel(eval(rhsE, env))
          val commonSet = attrs.map(_._1).toSet
          val common = rhs.heading.map(_._1).filter(commonSet)
          val rOnly = rhs.heading.filterNot(f => commonSet(f._1))
          val rvaCol = s"__corr_$corrIdx"; corrIdx += 1
          val nested = graft.rel.Nest.nest(rhs.rel, rvaCol, rOnly.map(_._1)).df
          df = df.join(nested, common, "left")
          val t = TRel(rOnly)
          corr(n) = cols.CExpr(
            F.coalesce(F.col(rvaCol), F.array().cast(sparkType(t))), t)
          (n, Left(n)) // placeholder; resolved via corr below
        case other => other
      }
      val compiled =
        try out2.map {
          case (n, _) if corr.contains(n) => n -> corr(n)
          case t => compileRow(t)
        } catch {
          case e: Exception if corr.isEmpty && specOpt.isEmpty =>
            // terms Catalyst cannot express (e.g. per-row RECURSIVE user
            // functions, Sample/fibonacci.andl) fall back to the
            // reference's row-at-a-time evaluation — bounded by the
            // driver collect limit, never a scale path
            collectRows(v, collectLimit) match {
              case Some(rows) =>
                return localSelect(LRelV(attrs, rows), star, terms, env)
              case None => throw e
            }
        }
      val dfm = segOpt.map(_.materialize(df)).getOrElse(df)
      val res = dfm.select(compiled.map { case (n, c) => c.col.as(n) }: _*)
      val passthrough = out.collect { case (n, Left(a)) if n == a => n }.toSet
      withStoredOrder(
        RelV(sortFields(compiled.map { case (n, c) => (n, c.t) }), Rel.bag(res)),
        order.orElse(stored)
          .map(_.takeWhile(t => passthrough(t.field))).filter(_.nonEmpty))
    } else {
      // stored-order fold: the reference's PLAIN grouped aggregation
      // accumulates each group in the table's stored physical order
      // (DataTableLocal.TransformAggregate iterates _rows, which a trailing
      // `.order` sorted). Lower to the ordered-transform machinery with the
      // implicit group keys as the window partition: folds then reset per
      // group and accumulate in stored order — unlike an in-chain `.order
      // .select` (TransformOrdered), which only breaks on `%` groups.
      val keyTerms = out.zip(foldFlag).collect { case ((n, t), false) => (n, t) }
      val storedSpec: Option[OrderSpec] = stored match {
        case Some(sterms)
            if keyTerms.forall { case (n, Left(a)) => n == a; case _ => false } &&
              sterms.forall(t => headingMap.contains(t.field)) =>
          Some(OrderSpec(keyTerms.map(_._1), sortColsOf(sterms, attrs),
            sterms.map(t => F.col(t.field))))
        case _ => None
      }
      specOpt.orElse(storedSpec) match {
        case None =>
          // grouped aggregation: non-fold terms are the implicit group keys
          // (DataTableSql.GroupColumns, DataTableSql.cs:491-497)
          val aggCtx = rowCtx.copy(mode = cols.AggFold)
          val keys = out.zip(foldFlag).collect { case ((n, t), false) => compileRow((n, t)) }
          val aggs = out.zip(foldFlag).collect { case ((n, Right(x)), true) =>
            n -> cols.compile(x, aggCtx) }
          val df = r.rel.df // set semantics before aggregation
          val aggCols = aggs.map { case (n, c) => c.col.as(n) }
          val res =
            if (keys.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
            else df.groupBy(keys.map { case (n, c) => c.col.as(n) }: _*)
              .agg(aggCols.head, aggCols.tail: _*)
          RelV(sortFields((keys ++ aggs).map { case (n, c) => (n, c.t) }),
            Rel.distinct(res))
        case Some(spec) if spec.groupBy.isEmpty =>
          // UNGROUPED ordered transform: segmented machinery — global
          // ordinal + per-partition running folds with prefix carry, and
          // run-collapse through an ordinal self-join (no single-partition
          // window anywhere; see graft.rel.Segmented)
          val (prep, seg) = graft.rel.Segmented.prepare(baseDf0, spec.sort)
          val segCtx = rowCtx.copy(seg = Some(seg))
          val runCtx = segCtx.copy(mode = cols.RunFold(spec))
          val compiled = out.zip(foldFlag).map {
            case ((n, t), false) => compileRow((n, t), segCtx)
            case ((n, Right(x)), true) => n -> cols.compile(x, runCtx)
            case _ => sys.error("unreachable")
          }
          val nonFoldNames = out.zip(foldFlag).collect { case ((n, _), false) => n }
          val frame = seg.materialize(prep)
          val withCols = compiled.foldLeft(frame) { case (d, (n, c)) =>
            d.withColumn(n, c.col) }
          val res = seg.collapseRuns(withCols, nonFoldNames, compiled.map(_._1))
          val outNames = compiled.map(_._1).toSet
          withStoredOrder(
            RelV(sortFields(compiled.map { case (n, c) => (n, c.t) }), Rel.bag(res)),
            order.orElse(stored)
              .map(_.takeWhile(t => outNames(t.field))).filter(_.nonEmpty))
        case Some(spec) =>
          // ordered transform with running folds and group-collapse
          // (TransformOrdered: emit only the last row of each run)
          val runCtx = rowCtx.copy(mode = cols.RunFold(spec))
          val compiled = out.zip(foldFlag).map {
            case ((n, t), false) => compileRow((n, t))
            case ((n, Right(x)), true) => n -> cols.compile(x, runCtx)
            case _ => sys.error("unreachable")
          }
          val nonFoldNames = out.zip(foldFlag).collect { case ((n, _), false) => n }
          val withCols = compiled.foldLeft(baseDf0) { case (d, (n, c)) =>
            d.withColumn(n, c.col) }
          val lastOfRun = nonFoldNames
            .map(n => !(F.lead(F.col(n), 1).over(spec.window) <=> F.col(n)))
            .reduceOption(_ || _)
            .getOrElse(F.lead(F.lit(1), 1).over(spec.window).isNull)
          val res = withCols.withColumn("__emit", lastOfRun)
            .filter(F.col("__emit"))
            .select(compiled.map { case (n, _) => F.col(n) }: _*)
          val outNames = compiled.map(_._1).toSet
          withStoredOrder(
            RelV(sortFields(compiled.map { case (n, c) => (n, c.t) }), Rel.bag(res)),
            order.orElse(stored)
              .map(_.takeWhile(t => outNames(t.field))).filter(_.nonEmpty))
      }
    }
  }

  /** Lift: `.select{ (expr) }` — scalar (or nested-relation) result. With a
    * fold, the whole relation aggregates; without, the first tuple binds
    * (Builtin.Lift, Builtin.cs:407-410). */
  private def lift(v: Value, e: Expr, order: Option[Seq[OrderTerm]],
                   env: Env): Value = {
    val hasFold = cols.containsFold(e, env)
    if (!hasFold) {
      val h = relHeading(v)
      val first: Option[TupV] = v match {
        case LRelV(_, rows) if order.isEmpty => rows.headOption
        case _ =>
          val rv = toSparkRel(v)
          val d0 = rv.rel.df.select(h.map(f => F.col(f._1)): _*)
          val d = order.map(o => d0.orderBy(orderSpecOf(o, h).sort: _*)).getOrElse(d0)
          d.take(1).headOption.map(r => rowToValue(r, h))
      }
      first match {
        case Some(tup) => rowEval(tup, e, env)
        case None =>
          // lift of an empty relation yields the TYPE DEFAULT
          // (Builtin.Lift, Builtin.cs:407-410; Sample/sample2.andl)
          val ctx = cols.Ctx(h.toMap, Map.empty, env, None, cols.NoFold)
          defaultValue(cols.compile(e, ctx).t)
      }
    } else {
      val r = toSparkRel(v)
      val headingMap = r.heading.toMap
      order match {
        case Some(o) =>
          val spec = orderSpecOf(o, r.heading)
          if (spec.groupBy.isEmpty) {
            // ungrouped ordered lift: segmented whole folds (one-row
            // aggregates over the global ordinal — no global window)
            val (prep, seg) = graft.rel.Segmented.prepare(r.rel.df, spec.sort)
            val ctx = cols.Ctx(headingMap, Map.empty, env, Some(spec),
              cols.WholeFold(spec), seg = Some(seg))
            val c = cols.compile(e, ctx)
            val frame = seg.materialize(prep)
            val row = frame.select(c.col.as("__v")).take(1)
            if (row.isEmpty) defaultValue(c.t) else fromSpark(row(0).get(0), c.t)
          } else {
            val ctx = cols.Ctx(headingMap, Map.empty, env, Some(spec),
              cols.WholeFold(spec))
            val c = cols.compile(e, ctx)
            val row = r.rel.df.select(c.col.as("__v")).take(1)
            if (row.isEmpty) defaultValue(c.t) else fromSpark(row(0).get(0), c.t)
          }
        case None =>
          val ctx = cols.Ctx(headingMap, Map.empty, env, None, cols.AggFold)
          val c = cols.compile(e, ctx)
          val row = r.rel.df.agg(c.col.as("__v")).take(1)
          if (row.isEmpty) defaultValue(c.t) else fromSpark(row(0).get(0), c.t)
      }
    }
  }

  /** Row-wise select for driver-local relations that hold function values
    * (SuiteDefer.andl: relation attributes that are funvals). */
  private def localSelect(lr: LRelV, star: Boolean, terms: Seq[Term],
                          env: Env): Value = {
    val rows = lr.rows.map { tup =>
      val rowEnv = env.child()
      tup.fields.foreach { case (n, fv) => rowEnv.define(n, fv) }
      tupleSelect(tup, star, terms, rowEnv).asInstanceOf[TupV]
    }
    localRel(rows.headOption.map(_.fields.map { case (n, fv) => (n, typeOf(fv)) })
      .getOrElse(Nil), rows)
  }

  private def tupleSelect(tup: TupV, star: Boolean, terms: Seq[Term],
                          env: Env): Value = {
    val rowEnv = env.child()
    tup.fields.foreach { case (n, fv) => rowEnv.define(n, fv) }
    rowEnv.define("__tuple__", tup)
    val fields: Seq[(String, Value)] =
      if (star) {
        val removed = terms.collect { case TProj(n) => n }.toSet
        val renamedOld = terms.collect { case TRename(_, o) => o }.toSet
        val replaced = terms.collect { case TExtend(n, _) => n }.toSet
        tup.fields.filterNot(f => removed(f._1) || renamedOld(f._1) || replaced(f._1)) ++
          terms.collect {
            case TRename(n, o) => (n, tup.fields.find(_._1 == o).get._2)
            case TExtend(n, x) => (n, eval(x, rowEnv))
          }
      } else terms.map {
        case TProj(n) => (n, tup.fields.find(_._1 == n)
          .getOrElse(sys.error(s"unknown attribute $n"))._2)
        case TRename(n, o) => (n, tup.fields.find(_._1 == o)
          .getOrElse(sys.error(s"unknown attribute $o"))._2)
        case TExtend(n, x) => (n, eval(x, rowEnv))
        case TLift(x) => return eval(x, rowEnv)
        case TStar => sys.error("* only valid as first transform term")
      }
    TupV(sortFields2(fields))
  }

  // ----------------------------------------------------------------- while

  /** `.while(step)` — fixpoint via the engine's semi-naive WhileFix; the
    * step relation-expression compiles to a DataFrame transformation. */
  private def applyWhile(v: Value, stepE: Expr, env: Env): Value = {
    val seed = toSparkRel(v)
    val step = compileWhileStep(stepE, seed.heading, env)
    RelV(seed.heading, Rel.distinct(WhileFix(seed.rel.df, step)))
  }

  private def compileWhileStep(stepE: Expr, heading: Seq[(String, AType)],
                               env: Env): DataFrame => DataFrame = {
    val hm = heading.toMap
    def ctx = cols.Ctx(hm, Map.empty, env, None, cols.NoFold)
    def selectTerms(df: DataFrame, terms: Seq[Term]): DataFrame = {
      val proj = terms.flatMap {
        case TStar => heading.map(f => F.col(f._1))
        case TProj(n) => Seq(F.col(n))
        case TRename(n, o) => Seq(F.col(o).as(n))
        case TExtend(n, x) => Seq(cols.compile(x, ctx).col.as(n))
        case other => sys.error(s"bad while-step tuple term $other")
      }
      df.select(proj: _*)
    }
    def go(e: Expr): DataFrame => DataFrame = e match {
      case EPostfix(recv, ops) =>
        ops.foldLeft(go(recv)) { (fn, op) =>
          op match {
            case PWhere(pred) => df => fn(df).filter(cols.compile(pred, ctx).col)
            case other => sys.error(s"while step does not support $other")
          }
        }
      case EIf(c, a, b) => df => {
        val cc = cols.compile(c, ctx).col
        go(a)(df.filter(cc)).unionByName(go(b)(df.filter(!cc)))
      }
      case ERelRows(rows) => df =>
        rows.map {
          case ETuple(terms) => selectTerms(df, terms)
          case other => sys.error(s"while step row must be a tuple literal, got $other")
        }.reduce(_ unionByName _)
      case ETuple(terms) => df => selectTerms(df, terms)
      case EBinop(op, l, rhsE) =>
        // step composed with a stored relation (Sample/recursive.andl:
        // `{{ boss := name, … }} compose orgchart`) — engine dyadic per round
        val rhs = toSparkRel(eval(rhsE, env)).rel
        df => {
          val lrel = Rel.bag(go(l)(df))
          (op match {
            case "compose" => lrel.compose(rhs)
            case "join" => lrel.join(rhs)
            case "semijoin" | "matching" => lrel.semijoin(rhs)
            case "ajoin" | "notmatching" => lrel.ajoin(rhs)
            case "union" => lrel.union(rhs)
            case "minus" => lrel.minus(rhs)
            case "intersect" => lrel.intersect(rhs)
            case other => sys.error(s"while step does not support $other")
          }).bagDF
        }
      case ed: EDo =>
        // row-independent do-block step (Sample/sudoku.andl): the reference
        // evaluates the block against static relvars for every appended row
        // (DataTableLocal.Recurse, DataTableLocal.cs:631-646) — same
        // constant batch each round, so evaluate once per round
        df => toSparkRel(eval(ed, env.child())).rel.df
      case other =>
        sys.error(s"while step not supported: ${other.getClass.getSimpleName}")
    }
    go(stepE)
  }

  // ----------------------------------------------------------------- types

  def resolveTypeRef(tr: TypeRef, env: Env): AType = tr match {
    case TRName("text") => TText
    case TRName("number") => TNum
    case TRName("bool") => TBool
    case TRName("time") => TTime
    case TRName("binary") => TBin
    case TRName("true") | TRName("false") => TBool // literal-example bools
    case TRName(n) => env.lookup(n) match {
      case Some(TypeV(t)) => t
      case Some(v) => typeOf(v) // typed-by-example variable
      case None => sys.error(s"unknown type $n")
    }
    case TRTupHeading(fields) =>
      TTup(sortFields(fields.map { case (n, t) =>
        (n, t.map(resolveTypeRef(_, env)).getOrElse(TText)) }))
    case TRRelHeading(fields) =>
      TRel(sortFields(fields.map { case (n, t) =>
        (n, t.map(resolveTypeRef(_, env)).getOrElse(TText)) }))
    case TRExample(e) => typeOf(eval(e, env))
  }

  /** Heading (sorted) of a rel-literal type ref. */
  private def headingOf(tr: TypeRef, env: Env): Seq[(String, AType)] =
    resolveTypeRef(tr, env) match {
      case TRel(f) => f
      case TTup(f) => f
      case TUdt(_, f) => sortFields(f)
      case other => sys.error(s"not a heading type: $other")
    }

  /** Heading in DECLARED order (for positional rows). */
  private def declaredOrder(tr: TypeRef, env: Env): Seq[(String, AType)] = tr match {
    case TRTupHeading(fields) => fields.map { case (n, t) =>
      (n, t.map(resolveTypeRef(_, env)).getOrElse(TText)) }
    case TRRelHeading(fields) => fields.map { case (n, t) =>
      (n, t.map(resolveTypeRef(_, env)).getOrElse(TText)) }
    case TRName(n) => env.lookup(n) match {
      case Some(TypeV(TUdt(_, f))) => f
      case Some(r @ (_: RelV | _: LRelV)) => relHeading(r)
      case other => sys.error(s"not a heading: $n → $other")
    }
    case other => sys.error(s"not a heading ref: $other")
  }

  /** Build a driver-local relation (deduped, insertion order kept). */
  private def localRel(heading: Seq[(String, AType)], tuples: Seq[TupV]): LRelV = {
    val h = sortFields(heading)
    LRelV(h, tuples.toVector.distinct)
  }

  private def sortFields2(fields: Seq[(String, Value)]): Seq[(String, Value)] =
    fields.sortBy(_._1)

}

object AndlInterp {

  /** Per-session language modes (SURVEY §1.2): the numeric domain
    * (double, or DecimalType(38,18) when `decimalNumbers`) and the
    * opt-in ICU collation name for text ordering. Captured once per
    * interpreter; never process-global. */
  final case class Modes(decimalNumbers: Boolean, collation: Option[String])
  object Modes {
    val default: Modes = Modes(decimalNumbers = false, collation = None)
    def fromConf(spark: SparkSession): Modes = Modes(
      spark.conf.getOption("spark.graft.decimalNumbers").exists(_.toBoolean),
      spark.conf.getOption("spark.graft.collation").filter(_.nonEmpty))
  }

  /** Lexically scoped mutable environment: function bodies evaluate in a
    * child of their defining scope (closures), the script runs in the
    * global scope. */
  final class Env(val parent: Option[Env]) {
    private val vars = mutable.LinkedHashMap[String, Value]()

    def lookup(name: String): Option[Value] =
      vars.get(name).orElse(parent.flatMap(_.lookup(name)))

    /** Bind in THIS scope (var decl, def, parameter). */
    def define(name: String, v: Value): Unit = vars(name) = v

    /** Rebind wherever the name is visible; defines here if new. */
    def assign(name: String, v: Value): Unit =
      if (vars.contains(name)) vars(name) = v
      else parent match {
        case Some(p) if p.lookupLocalChain(name) => p.assign(name, v)
        case _ => vars(name) = v
      }

    private def lookupLocalChain(name: String): Boolean =
      vars.contains(name) || parent.exists(_.lookupLocalChain(name))

    def child(): Env = new Env(Some(this))

    def names: Seq[String] = parent.map(_.names).getOrElse(Nil) ++ vars.keys.toSeq
  }
}

/** Driver-tier scalar replicas of the engine-tier pipeline signals
  * ([[graft.pipeline.TextAnalysis]]): the SAME formulas and regexes, so a
  * `quality`/`langid`/`scrub`/`htmltext` call over a tiny driver-local
  * relation agrees bit-for-bit with the Spark-lowered Column. */
private[lang] object DriverSignals {

  /** Spark's round(double, 6): HALF_UP over the canonical decimal form. */
  private def round6(v: Double): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  def quality(s: String): Double = {
    val len = s.length
    val lenScore = math.min(len / 500.0, 1.0)
    val punct = if (len == 0) 0.0
      else (len - s.replaceAll("[\\p{Punct}]", "").length).toDouble / len
    val punctScore = math.max(1.0 - punct * 4.0, 0.0)
    val nTok = if (s.trim.isEmpty) 0 else s.trim.split("\\s+").length
    val hits = s.trim.toLowerCase(java.util.Locale.ROOT).split("[^a-z]+")
      .count(graft.pipeline.TextAnalysis.enStopwords.contains)
    val stopScore =
      if (nTok == 0) 0.0 else math.min(hits.toDouble / nTok * 5.0, 1.0)
    round6((lenScore + punctScore + stopScore) / 3.0)
  }

  def langId(s: String): String = {
    val toks = s.trim.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-zàâäéèêëîïôöùûüÿçáíóúñß]+")
    val best = graft.pipeline.TextAnalysis.langStopwords
      .map { case (code, words) => (toks.count(words.contains), code) }.max
    if (best._1 == 0) "und" else best._2
  }

  def scrubAll(s: String): String =
    s.replaceAll("https?://\\S+", "<URL>")
      .replaceAll("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
      .replaceAll("\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
      .replaceAll("\\+\\d{7,15}\\b|\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b", "<PHONE>")

  def htmlToText(s: String): String = {
    def visible(l: String): String =
      l.replaceAll("<[^>]*>", " ")
        .replace("&nbsp;", " ").replace("&lt;", "<").replace("&gt;", ">")
        .replace("&quot;", "\"").replace("&#39;", "'").replace("&amp;", "&")
        .replaceAll("\\s+", " ").trim
    s.replaceAll("(?is)<script[^>]*>.*?</script>", " ")
      .replaceAll("(?is)<style[^>]*>.*?</style>", " ")
      .replaceAll("(?s)<!--.*?-->", " ")
      .replaceAll("(?i)<(?:br|hr)[^>]*>|</(?:p|div|li|tr|h[1-6]|ul|ol|table|blockquote)[^>]*>", "\n")
      .split("\n", -1).map(visible).filter(_.nonEmpty).mkString("\n")
  }
}
