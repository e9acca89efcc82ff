package graft

import org.scalatest.funsuite.AnyFunSuite

/** The source check that keeps unset knobs from growing back: every
  * default-valued parameter of a public or package-private `def` in
  * `graft.llm` and `graft.streaming` is passed, by name or by position,
  * by some call in `src/main`, `src/test` or `perfbench/src`, or it is
  * on the allowlist below with its reason. A default nothing passes is
  * a constant spelled as a setting. The allowlist may only go down. */
class DefaultsSpec extends AnyFunSuite {
  import DefaultsSpec._

  /** Defaults no call passes, keyed `File.scala#def.param`. */
  private val unset: Map[String, String] = Map(
    "Similarity.scala#lshTopK.dims" ->
      "the caller's vector width, which the hyperplane family must match",
    "Similarity.scala#pqSearch.dims" ->
      "the caller's vector width, which the subspace split must match",
    "Streams.scala#nearDupCandidatesStream.watermark" ->
      "the live stream's event-time horizon, a deployment setting",
    "Streams.scala#nearDupCandidatesStream.stateTtlMs" ->
      "the live stream's state horizon, a deployment setting",
    "Streams.scala#startDedupIndexProbe.threshold" ->
      "its batch twin incrementalLshPairsFromIndex takes it as a required argument",
    "Streams.scala#startCosineIndexProbe.threshold" ->
      "its batch twin cosineNearDupPairsFromIndex takes it as a required argument")

  test("every default in graft.llm and graft.streaming is passed somewhere, or allowlisted") {
    def read(dir: String, inScope: Boolean) =
      ReachSpec.scalaFiles(new java.io.File(dir)).map(f =>
        (f.getName, java.nio.file.Files.readString(f.toPath), inScope))
    // the scoped files are read twice, once as callers: a repeated call
    // passes nothing new
    val sources =
      Seq("src/main/scala/graft/llm", "src/main/scala/graft/streaming")
        .flatMap(read(_, inScope = true)) ++
      Seq("src/main/scala", "src/test/scala", "perfbench/src")
        .flatMap(read(_, inScope = false))
    val flagged = unsetDefaults(sources)
    info(s"${defaults(sources).size} default parameters in scope, " +
      s"${flagged.size} passed by no call")
    val fresh = flagged -- unset.keySet
    assert(fresh.isEmpty, "defaults no call passes (make them constants, " +
      s"or pass them): ${fresh.toSeq.sorted.mkString(", ")}")
    val stale = unset.keySet -- flagged
    assert(stale.isEmpty, "these defaults are passed or gone now; drop them " +
      s"from the allowlist: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("the scan sees named, positional, multi-line and forwarded arguments, not comments") {
    val scoped =
      """object A {
        |  def named(x: Int, k: Int = 9, w: Int = 8) = x
        |  def positional(x: Int, k: Int = 9)(y: Int = 1) = x
        |  def multi(a: Int = 1, b: String = "(", c: Int => Int = _ + 1) = a
        |  def outer(x: Int = 1, t: Column => Column = identity) = inner(x)
        |  def inner(x: Int = 1) = x
        |  def twin(x: Int = 1) = x
        |  def commented(x: Int = 1) = x
        |  private def hidden(x: Int = 1) = x
        |  private[graft] def scoped(x: Int = 1) = x
        |}
        |""".stripMargin
    val caller =
      """object C {
        |  val v = A.named(1, w = 2) + A.positional(1, 2)(3)
        |  val m = A.multi(
        |    2,
        |    "x")
        |  def twin(x: Int = 2) = x
        |  // A.commented(2)
        |  /* A.scoped(2) */
        |  val s = "A.scoped(3)"
        |}
        |""".stripMargin
    assert(unsetDefaults(Seq(("A.scala", scoped, true), ("C.scala", caller, false))) ===
      Set("A.scala#named.k", "A.scala#multi.c", "A.scala#outer.x",
        "A.scala#outer.t", "A.scala#twin.x", "A.scala#commented.x",
        "A.scala#scoped.x"))
  }
}

object DefaultsSpec {

  /** A default-valued parameter: its def, argument list, position in
    * that list and name. */
  case class Default(file: String, fn: String, list: Int, pos: Int, name: String) {
    def key: String = s"$file#$fn.$name"
  }

  private val defName = """\bdef\s+([A-Za-z_]\w*)""".r
  private val param = """(?s)\s*(?:(?:val|var)\s+)?(\w+)\s*:(.*)""".r
  private val namedArg = """(?s)\s*(\w+)\s*=(?![=>]).*""".r

  /** The defaults of every public or package-private def in `sources`
    * marked in scope (implicit lists aside). */
  def defaults(sources: Seq[(String, String, Boolean)]): Seq[Default] =
    sources.filter(_._3).flatMap { case (file, text, _) =>
      val skeleton = ReachSpec.lex(text)._2
      defName.findAllMatchIn(skeleton).flatMap { m =>
        val modifiers = skeleton.substring(
          skeleton.lastIndexOf('\n', m.start) + 1, m.start)
        if ("""\bprivate\b(?!\s*\[)|\bprotected\b""".r.findFirstIn(modifiers).isDefined) Nil
        else argLists(skeleton, m.end).zipWithIndex.flatMap {
          case (Some(list), li) if !list.trim.startsWith("implicit") =>
            parts(list).zipWithIndex.collect {
              case (param(name, rest), pi) if hasDefault(rest) =>
                Default(file, m.group(1), li, pi, name)
            }
          case _ => Nil
        }
      }
    }

  /** `File.scala#def.param` of each in-scope default that no call in
    * `sources` passes, by name or at its position. Calls are matched by
    * the def's name (a call of a same-named def counts), in the code
    * with comments and string contents removed; a definition is not a
    * call. */
  def unsetDefaults(sources: Seq[(String, String, Boolean)]): Set[String] = {
    val ds = defaults(sources)
    val skeletons = sources.map(s => ReachSpec.lex(s._2)._2)
    ds.groupBy(_.fn).flatMap { case (fn, group) =>
      val call = ("""(?<![\w$])""" + fn + """(?![\w$])""").r
      val passed = skeletons.flatMap { sk =>
        call.findAllMatchIn(sk)
          .filterNot(m => """\bdef\s+$""".r.findFirstIn(
            sk.substring(math.max(0, m.start - 10), m.start)).isDefined)
          .flatMap(m => argLists(sk, m.end).zipWithIndex
            .flatMap {
              case (None, li) => Seq(Right((li, 0)))
              case (Some(list), li) => parts(list).zipWithIndex.map {
                case (namedArg(name), _) => Left(name)
                case (_, ai) => Right((li, ai))
              }
            })
      }.toSet
      group.filterNot(d => passed(Left(d.name)) || passed(Right((d.list, d.pos))))
        .map(_.key)
    }.toSet
  }

  /** A parameter's type-and-default text has a top-level `=` that is
    * not part of `=>`, `==`, `!=`, `<=` or `>=`. */
  private def hasDefault(rest: String): Boolean = {
    var depth = 0
    rest.indices.exists { k =>
      rest(k) match {
        case '(' | '[' | '{' => depth += 1; false
        case ')' | ']' | '}' => depth -= 1; false
        case '=' => depth == 0 && !rest.lift(k + 1).exists("=>".contains(_)) &&
          !rest.lift(k - 1).exists("=!<>".contains(_))
        case _ => false
      }
    }
  }

  /** The argument or parameter lists from index `i` on: an optional type
    * argument list, then `(…)` groups (the first may start on the next
    * line), and a `{…}` block argument after the first, as `None`. */
  private def argLists(s: String, i: Int): Seq[Option[String]] = {
    def skip(j: Int, ws: String) = {
      var k = j
      while (k < s.length && ws.contains(s(k))) k += 1
      k
    }
    val out = Seq.newBuilder[Option[String]]
    var at = skip(i, " \t\n")
    if (at < s.length && s(at) == '[') at = close(s, at)
    else at = i
    var n = 0
    var go = true
    while (go) {
      val j = skip(at, if (n == 0) " \t\n" else " \t")
      if (j < s.length && s(j) == '(') {
        val e = close(s, j); out += Some(s.substring(j + 1, e - 1)); at = e; n += 1
      } else if (j < s.length && s(j) == '{' && n > 0) {
        at = close(s, j); out += None; n += 1
      } else go = false
    }
    out.result()
  }

  /** The index just past the group whose opener is at `s(i)`. */
  private def close(s: String, i: Int): Int = {
    var depth = 0
    var j = i
    do {
      s(j) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case _ =>
      }
      j += 1
    } while (j < s.length && depth > 0)
    j
  }

  /** The top-level comma-separated, non-blank parts of `s`. */
  private def parts(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    (0 to s.length).foreach { k =>
      val c = if (k < s.length) s(k) else ','
      c match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 =>
          if (s.substring(start, k).trim.nonEmpty) out += s.substring(start, k)
          start = k + 1
        case _ =>
      }
    }
    out.result()
  }
}
