package graft.io

import org.apache.spark.sql.SparkSession
import graft.exec.ZoeCompiler
import graft.model.GraphStore
import graft.ql.{BasicQuery, EdgeQuery, PropertyQuery, VertexQuery}

/** Lua-compat script runner: executes the reference's documented Lua builder
  * surface (lua.rs:27-318 — globals `vq_all/vq_from_ids/vq_from_property/
  * eq_all/eq_from_ids/eq_from_property/pq_from_id`, the `:outgoing(filter?)/
  * :ingoing(filter?)/:union/:intersect/:substract` chains, the property-query
  * `:referencing_*` methods, and the `db:create_node/update_node/delete_node/
  * create_edge/delete_edge/query` verbs) WITHOUT embedding a Lua interpreter:
  * a recursive-descent parser for exactly that builder-call subset translates
  * scripts onto the repo's Zoe builders and bulk mutations. A reference user
  * runs their scripts unmodified via `script --lua`; anything outside the
  * subset (control flow, arithmetic, stdlib) fails with a clear position
  * rather than silently diverging — the reference's own docs and tests never
  * script beyond this subset (verified round 9: zero Lua examples exist).
  *
  * Dispatch parity notes (lua.rs:130-264):
  *  - `v:outgoing(pq)`   → out-edges ∩ pq.referencing_edges
  *  - `v:outgoing(eq)`   → out-edges ∩ eq
  *  - `v:outgoing(vq)`   → far vertices ∩ vq (hops THROUGH the edge set)
  *  - `v:outgoing("id")` → a bare property id behaves as pq_from_id(id)
  *  - the `e:…` forms mirror with referencing_vertices, per the reference.
  * Mutations apply eagerly to the in-memory store image (content-addressed,
  * refcount-GC'd) through the CLI's own verbs (`ZoeCli.createNode` …
  * `deleteEdge`), and persist once at script end iff any mutation ran.
  */
object LuaCompat {

  // ---- values ----
  private sealed trait V
  private final case class VQ(q: VertexQuery) extends V
  private final case class EQ(q: EdgeQuery) extends V
  private final case class PQ(q: PropertyQuery) extends V
  private final case class Str(s: String) extends V
  private final case class Num(d: Double) extends V
  private final case class Arr(vs: Seq[V]) extends V
  private final case class Res(rendered: String) extends V
  private case object Unit0 extends V

  // ---- tokens ----
  private sealed trait Tok { def pos: Int }
  private final case class TIdent(s: String, pos: Int) extends Tok
  private final case class TStr(s: String, pos: Int) extends Tok
  private final case class TNum(d: Double, pos: Int) extends Tok
  private final case class TPunct(s: String, pos: Int) extends Tok

  private def fail(msg: String, pos: Int): Nothing =
    throw new IllegalArgumentException(s"lua-compat: $msg (at offset $pos)")

  /** Marker for input that is not wrong, just unfinished (unclosed paren /
    * brace / string, dangling operator) — the reference repl keeps reading
    * lines on mlua's `SyntaxError { incomplete_input: true }`
    * (lua.rs:407-418) instead of erroring, and [[repl]] mirrors that. */
  private final class IncompleteInput(msg: String)
    extends IllegalArgumentException(msg)

  /** Cheap pre-eval completeness check on the buffered chunk. Evaluating
    * first and catching would risk re-running already-executed statements
    * when the INCOMPLETE tail follows a complete mutating statement; this
    * inspects only the token stream, so nothing executes until the chunk
    * is structurally complete. */
  private def looksIncomplete(code: String): Boolean =
    try {
      val toks = tokenize(code)
      var depth = 0
      toks.foreach {
        case TPunct(pct, _) =>
          if (pct == "(" || pct == "{") depth += 1
          else if (pct == ")" || pct == "}") depth -= 1
        case _ => ()
      }
      depth > 0 || (toks.lastOption match {
        case Some(TPunct(pct, _)) => pct == "=" || pct == "," || pct == ":"
        case Some(TIdent("local", _)) => true
        case _ => false
      })
    } catch {
      case _: IncompleteInput => true
      case _: Exception => false // malformed, not unfinished: let eval report it
    }

  private def tokenize(src: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && i + 1 < n && src(i + 1) == '-') {
        while (i < n && src(i) != '\n') i += 1
      } else if (c == '\'' || c == '"') {
        val start = i; i += 1
        val sb = new StringBuilder
        while (i < n && src(i) != c) {
          if (src(i) == '\\' && i + 1 < n) {
            src(i + 1) match {
              case 'n' => sb += '\n'; case 't' => sb += '\t'
              case 'r' => sb += '\r'; case other => sb += other
            }
            i += 2
          } else { sb += src(i); i += 1 }
        }
        if (i >= n)
          throw new IncompleteInput(s"lua-compat: unterminated string (at offset $start)")
        i += 1
        out += TStr(sb.result(), start)
      } else if (c.isDigit) {
        val start = i
        while (i < n && (src(i).isDigit || src(i) == '.')) i += 1
        val lit = src.substring(start, i)
        // malformed literals ("1.2.3") fail through the positioned error
        // path like every other lex error, not a bare NumberFormatException
        val d = scala.util.Try(lit.toDouble)
          .getOrElse(fail(s"malformed number '$lit'", start))
        out += TNum(d, start)
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (src(i).isLetterOrDigit || src(i) == '_')) i += 1
        out += TIdent(src.substring(start, i), start)
      } else if ("(){},:;=".indexOf(c) >= 0) {
        out += TPunct(c.toString, i); i += 1
      } else fail(s"unexpected character '$c'", i)
    }
    out.result()
  }

  /** One script run: parse + interpret statement-by-statement; mutations
    * persist once at the end iff any ran. */
  def run(spark: SparkSession, dbPath: String, code: String): Unit = {
    val s = new Session(spark, dbPath)
    s.eval(code)
    s.finish()
  }

  /** Line-based repl (the reference's `lua_repl`, lua.rs:368-422): lines
    * evaluate against ONE persistent session — variables survive across
    * lines, every mutating chunk commits synchronously, and an error
    * prints without killing the session, like the reference's readline
    * loop. Structurally INCOMPLETE input (unclosed paren/brace/string,
    * dangling `=`/`,`) buffers and continues on the next line, mirroring
    * the reference's `incomplete_input` continuation (lua.rs:407-418). */
  def repl(spark: SparkSession, dbPath: String, lines: Iterator[String]): Unit = {
    val s = new Session(spark, dbPath)
    var buf = ""
    lines.foreach { line =>
      val chunk = if (buf.isEmpty) line else buf + "\n" + line
      if (chunk.trim.nonEmpty) {
        if (looksIncomplete(chunk)) buf = chunk // keep reading, like the
        // reference's incomplete_input continuation loop (lua.rs:407-418)
        else {
          buf = ""
          try {
            s.eval(chunk)
            // durability parity with the reference's per-mutation
            // synchronous commits: persist after every chunk that mutated,
            // so a killed repl never discards mutations whose ids were
            // already printed
            s.finish()
          }
          catch { case e: Exception => Console.err.println(s"error: ${e.getMessage}") }
        }
      }
    }
    if (buf.trim.nonEmpty)
      Console.err.println("error: lua-compat: unexpected end of input (incomplete chunk)")
    s.finish()
  }

  /** A persistent interpreter session: the variable environment and the
    * evolving (content-addressed, GC'd) store image live here; `eval`
    * tokenizes and interprets one chunk of complete statements. */
  final class Session(spark: SparkSession, dbPath: String) {
    private var store = GraphStore.load(spark, dbPath)
    private var mutated = false
    private val env = scala.collection.mutable.Map[String, V]()

    /** Persist accumulated mutations (no-op when nothing mutated since the
      * last save — idempotent, so the repl can call it after every line).
      * Re-opens the store off the fresh files: the pre-save plans hold file
      * listings of directories the save just swapped away. */
    def finish(): Unit = if (mutated) {
      store.save(dbPath)
      store = GraphStore.load(spark, dbPath)
      mutated = false
    }

    def eval(code: String): Unit = {
    val toks = tokenize(code)
    var p = 0

    def peek: Option[Tok] = if (p < toks.length) Some(toks(p)) else None
    def next(): Tok = {
      if (p >= toks.length) fail("unexpected end of input", code.length)
      val t = toks(p); p += 1; t
    }
    def expect(punct: String): Unit = next() match {
      case TPunct(`punct`, _) => ()
      case t => fail(s"expected '$punct'", t.pos)
    }

    def numToId(d: Double): String =
      if (d == math.floor(d) && !d.isInfinite) d.toLong.toString else d.toString

    def asIds(args: Seq[V], pos: Int): Seq[String] = args.flatMap {
      case Str(s) => Seq(s)
      case Num(d) => Seq(numToId(d))
      case Arr(vs) => asIds(vs, pos)
      case _ => fail("expected string/number ids", pos)
    }

    def asPq(v: V, pos: Int): PropertyQuery = v match {
      case PQ(q) => q
      case Str(s) => PropertyQuery.fromId(s)
      case _ => fail("expected a property query or property id", pos)
    }

    // reference filter-dispatch for v:outgoing(x) / v:ingoing(x) and the
    // edge-query mirrors (lua.rs:130-264): the filtered-hop sugar of the
    // Zoe builders, a bare property id standing for pq_from_id(id)
    def vHop(q: VertexQuery, out: Boolean, filter: Option[V], pos: Int): V = filter match {
      case None => EQ(if (out) q.outgoing else q.ingoing)
      case Some(EQ(f)) => EQ(if (out) q.outgoing(f) else q.ingoing(f))
      case Some(VQ(f)) => VQ(if (out) q.outgoing(f) else q.ingoing(f))
      case Some(f @ (PQ(_) | Str(_))) =>
        val pq = asPq(f, pos)
        EQ(if (out) q.outgoing(pq) else q.ingoing(pq))
      case Some(_) => fail("bad filter for vertex hop", pos)
    }
    def eHop(q: EdgeQuery, out: Boolean, filter: Option[V], pos: Int): V = filter match {
      case None => VQ(if (out) q.outgoing else q.ingoing)
      case Some(VQ(f)) => VQ(if (out) q.outgoing(f) else q.ingoing(f))
      case Some(f @ (PQ(_) | Str(_))) =>
        val pq = asPq(f, pos)
        VQ(if (out) q.outgoing(pq) else q.ingoing(pq))
      // hop through to the far edges: the AST has no EdgeQuery overload
      case Some(EQ(f)) => EQ((if (out) q.outgoing.outgoing else q.ingoing.ingoing).intersect(f))
      case Some(_) => fail("bad filter for edge hop", pos)
    }

    def dbCall(method: String, args: Seq[V], pos: Int): V = {
      def mutate(g: GraphStore): Unit = { store = g; mutated = true }
      def argStr(i: Int): String = args.lift(i) match {
        case Some(Str(s)) => s
        case Some(Num(d)) => numToId(d)
        case _ => fail(s"db:$method argument ${i + 1} must be a string", pos)
      }
      method match {
        case "query" =>
          val bq = args match {
            case Seq(VQ(q)) => BasicQuery.V(q)
            case Seq(EQ(q)) => BasicQuery.E(q)
            case Seq(PQ(q)) => BasicQuery.P(q)
            case _ => fail("db:query takes one vertex/edge/property query", pos)
          }
          Res(ZoeCli.renderResult(new ZoeCompiler(store).run(bq)))
        case "create_node" =>
          val value = argStr(0)
          val id = java.util.UUID.randomUUID().toString
          mutate(ZoeCli.createNode(store, id, value))
          Str(id)
        case "update_node" =>
          val (id, value) = (argStr(0), argStr(1))
          mutate(ZoeCli.updateNode(store, id, value))
          Str(id)
        case "delete_node" =>
          val id = argStr(0)
          mutate(ZoeCli.deleteNode(store, id))
          // the reference returns the deleted id (lua.rs:42-47), so
          // scripts binding the result (x = db:delete_node(id)) agree;
          // delete_edge stays nil — the reference returns () there
          Str(id)
        case "create_edge" =>
          val (g, id) = ZoeCli.createEdge(store, argStr(0), argStr(1), argStr(2))
          mutate(g)
          Str(id)
        case "delete_edge" =>
          mutate(ZoeCli.deleteEdge(store, argStr(0)))
          Unit0
        case other => fail(s"unknown db method '$other'", pos)
      }
    }

    def methodCall(recv: V, method: String, args: Seq[V], pos: Int): V = (recv, method) match {
      case (PQ(q), "referencing_properties") => PQ(q.referencingProperties)
      case (PQ(q), "referenced_properties") => PQ(q.referencedProperties)
      case (PQ(q), "referencing_vertices") => VQ(q.referencingVertices)
      case (PQ(q), "referencing_edges") => EQ(q.referencingEdges)
      case (VQ(q), "outgoing") => vHop(q, out = true, args.headOption, pos)
      case (VQ(q), "ingoing") => vHop(q, out = false, args.headOption, pos)
      case (EQ(q), "outgoing") => eHop(q, out = true, args.headOption, pos)
      case (EQ(q), "ingoing") => eHop(q, out = false, args.headOption, pos)
      case (VQ(a), "union") => args match {
        case Seq(VQ(b)) => VQ(a.union(b)); case _ => fail("union needs a vertex query", pos) }
      case (VQ(a), "intersect") => args match {
        case Seq(VQ(b)) => VQ(a.intersect(b)); case _ => fail("intersect needs a vertex query", pos) }
      case (VQ(a), "substract") => args match {
        case Seq(VQ(b)) => VQ(a.substract(b)); case _ => fail("substract needs a vertex query", pos) }
      case (EQ(a), "union") => args match {
        case Seq(EQ(b)) => EQ(a.union(b)); case _ => fail("union needs an edge query", pos) }
      case (EQ(a), "intersect") => args match {
        case Seq(EQ(b)) => EQ(a.intersect(b)); case _ => fail("intersect needs an edge query", pos) }
      case (EQ(a), "substract") => args match {
        case Seq(EQ(b)) => EQ(a.substract(b)); case _ => fail("substract needs an edge query", pos) }
      case _ => fail(s"unknown method ':$method' for this receiver", pos)
    }

    def globalCall(name: String, args: Seq[V], pos: Int): V = name match {
      case "vq_all" => VQ(VertexQuery.all)
      case "eq_all" => EQ(EdgeQuery.all)
      case "vq_from_ids" => VQ(VertexQuery.fromIds(asIds(args, pos)))
      case "eq_from_ids" => EQ(EdgeQuery.fromIds(asIds(args, pos)))
      case "vq_from_property" => args match {
        case Seq(a) => VQ(VertexQuery.fromProperty(asPq(a, pos)))
        case _ => fail("vq_from_property takes one property query", pos)
      }
      case "eq_from_property" => args match {
        case Seq(a) => EQ(EdgeQuery.fromProperty(asPq(a, pos)))
        case _ => fail("eq_from_property takes one property query", pos)
      }
      case "pq_from_id" => args match {
        case Seq(Str(s)) => PQ(PropertyQuery.fromId(s))
        case Seq(Num(d)) => PQ(PropertyQuery.fromId(numToId(d)))
        case _ => fail("pq_from_id takes one id", pos)
      }
      case "print" =>
        args.foreach(v => println(render(v)))
        Unit0
      case other => fail(s"unknown function '$other'", pos)
    }

    def render(v: V): String = v match {
      case Res(r) => r
      case Str(s) => s
      case Num(d) => numToId(d)
      case Arr(vs) => vs.map(render).mkString("{", ", ", "}")
      case Unit0 => "nil"
      case VQ(q) => s"VertexQuery($q)"
      case EQ(q) => s"EdgeQuery($q)"
      case PQ(q) => s"PropertyQuery($q)"
    }

    // callArgs := "(" [expr {"," expr}] ")" | "{" table "}" | string
    // (Lua's three call forms; f{...} passes the table, f"s" the string)
    def parseCallArgs(): Option[Seq[V]] = peek match {
      case Some(TPunct("(", _)) =>
        next()
        val args = Seq.newBuilder[V]
        if (!peek.exists { case TPunct(")", _) => true; case _ => false }) {
          args += parseExpr()
          while (peek.exists { case TPunct(",", _) => true; case _ => false }) {
            next(); args += parseExpr()
          }
        }
        expect(")")
        Some(args.result())
      case Some(TPunct("{", _)) => Some(Seq(parseTable()))
      case Some(TStr(s, _)) => next(); Some(Seq(Str(s)))
      case _ => None
    }

    def parseTable(): V = {
      expect("{")
      val vs = Seq.newBuilder[V]
      if (!peek.exists { case TPunct("}", _) => true; case _ => false }) {
        vs += parseExpr()
        while (peek.exists { case TPunct(",", _) => true; case _ => false }) {
          next(); vs += parseExpr()
        }
      }
      expect("}")
      Arr(vs.result())
    }

    def parsePrimary(): V = next() match {
      case TStr(s, _) => Str(s)
      case TNum(d, _) => Num(d)
      case TPunct("{", _) => p -= 1; parseTable()
      case TPunct("(", _) => val v = parseExpr(); expect(")"); v
      case TIdent(name, pos) =>
        parseCallArgs() match {
          case Some(args) => globalCall(name, args, pos)
          case None =>
            if (name == "db") fail("'db' is only usable as db:<method>(...)", pos)
            env.getOrElse(name, fail(s"undefined variable '$name'", pos))
        }
      case t => fail("expected an expression", t.pos)
    }

    def parseExpr(): V = {
      // special-case the db receiver before generic primary parsing
      val first = peek match {
        case Some(TIdent("db", pos)) if p + 1 < toks.length &&
          (toks(p + 1) match { case TPunct(":", _) => true; case _ => false }) =>
          next(); next()
          val (m, mpos) = next() match {
            case TIdent(m0, mp) => (m0, mp)
            case t => fail("expected a db method name", t.pos)
          }
          val args = parseCallArgs().getOrElse(fail(s"db:$m needs arguments", mpos))
          dbCall(m, args, pos)
        case _ => parsePrimary()
      }
      var v = first
      while (peek.exists { case TPunct(":", _) => true; case _ => false }) {
        next()
        val (m, mpos) = next() match {
          case TIdent(m0, mp) => (m0, mp)
          case t => fail("expected a method name after ':'", t.pos)
        }
        val args = parseCallArgs().getOrElse(Seq.empty)
        v = methodCall(v, m, args, mpos)
      }
      v
    }

    // stmt := "local"? ident "=" expr | expr ; Res-valued statements print
    while (p < toks.length) {
      while (peek.exists { case TPunct(";", _) => true; case _ => false }) next()
      if (p < toks.length) {
        val isLocal = peek.exists { case TIdent("local", _) => true; case _ => false }
        if (isLocal) next()
        val isAssign = peek.exists { case TIdent(n0, _) => n0 != "db" &&
          p + 1 < toks.length &&
          (toks(p + 1) match { case TPunct("=", _) => true; case _ => false })
          case _ => false }
        if (isAssign) {
          val name = next() match {
            case TIdent(n0, _) => n0
            case t => fail("expected a variable name", t.pos)
          }
          next() // '='
          env(name) = parseExpr()
        } else {
          if (isLocal) fail("'local' must introduce an assignment", toks(p - 1).pos)
          parseExpr() match {
            case Res(r) => println(r)
            case _ => ()
          }
        }
      }
    }
    }
  }
}
