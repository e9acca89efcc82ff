package graft

import org.scalatest.funsuite.AnyFunSuite

/** The source check that keeps public API nothing runs from growing
  * back: every member-level public `def` in `src/main` is called
  * somewhere in `src/main` or `perfbench/src/main`, or it is on the
  * allowlist below with its reason. The allowlist may only go down. */
class ReachSpec extends AnyFunSuite {
  import ReachSpec._

  /** Public defs with no caller in the scanned sources, keyed
    * `File.scala#name`. Each reason starts with one of [[reasons]]. */
  private val unreached: Map[String, String] = Map(
    "SparkEntry.scala#entry" ->
      "driver contract: the external driver's entry point",
    "CorpusPlanStudy.scala#inferSchemas" ->
      "reference port, spec-pinned: corpus plan study planning schema (SURVEY §2.D); CorpusPlanStudySpec",
    "CorpusPlanStudy.scala#featurizeCorpus" ->
      "reference port, spec-pinned: corpus plan study over the measured NDJSON corpus (SURVEY §2.D); SchemaJsonCorpusSpec",
    "CorpusPlanStudy.scala#registerSchemaJsonTables" ->
      "reference port, spec-pinned: JOB/SSB_Trino_Schema.json tables (SURVEY §1.2); SchemaJsonCorpusSpec",
    "Experiment.scala#resultsFrame" ->
      "reference port, spec-pinned: experiment.py:104-239 result frame (SURVEY §3.3); ExperimentSpec",
    "Ingest.scala#readCsv" ->
      "reference port, spec-pinned: csv_to_iceberg.py:158-166 CSV source; IngestSpec",
    "Ingest.scala#writeTable" ->
      "reference port, spec-pinned: csv_to_iceberg.py:180-194 table sink; IngestSpec",
    "Ingest.scala#writePartitionedTable" ->
      "reference port, spec-pinned: csv_to_iceberg.py:180-194 table sink, identity-partitioned; IngestSpec",
    "LatexRows.scala#table1Row" ->
      "reference port, spec-pinned: helpers.py:171-195 table-1 rows; LatexRowsSpec",
    "LatexRows.scala#table2BaselineRow" ->
      "reference port, spec-pinned: helpers.py:230-320 table-2 rows; LatexRowsSpec",
    "LatexRows.scala#table2DeltaRow" ->
      "reference port, spec-pinned: helpers.py:230-320 table-2 rows; LatexRowsSpec",
    "Metrics.scala#loadValLists" ->
      "reference port, spec-pinned: table3.ipynb load_val_lists; MetricsSpec",
    "RuntimePrediction.scala#expInvert" ->
      "reference port, spec-pinned: train.ipynb evaluate_model Runtime_log inverse; RuntimePredictionSpec",
    "Schedulers.scala#scheduleFitsSequential" ->
      "reference port, spec-pinned: scheduler.py:196-227 schedule-fits assertion; SchedulingSpec",
    "Tables.scala#registerCatalog" ->
      "reference port, spec-pinned: csv_to_iceberg.py:77-90 statistics-enabled catalog; TablesCatalogSpec",
    "TraceAnalytics.scala#loadWorkloadLogs" ->
      "reference port, spec-pinned: helpers.py:113-163 run-log discovery; TraceAnalyticsSpec",
    "WorkloadRunner.scala#uploadResults" ->
      "reference port, spec-pinned: run_workload.py:19-24 object-storage upload; WorkloadRunnerSpec",
    "Dedup.scala#cosinePairsMicro" ->
      "test reference: LlmSpec checks cosineNearDupPairs against this all-pairs form",
    "Similarity.scala#cosineTopK" ->
      "test reference: LlmSpec checks the micro-int cosine and lshTopK paths against it",
    "TextAnalysis.scala#rollingHashHof" ->
      "test reference: LlmSpec checks the native rollingHash against this HOF form",
    "Schedulers.scala#windowCarbon" ->
      "test reference: SchedulingSpec checks realisedCarbonSequential against it",
    "LinkGraph.scala#pageRankWithReport" ->
      "test reference: LinkGraphSpec checks pageRank's convergence and early stop with it",
    "Streams.scala#nearDupCandidatesStream" ->
      "streaming production path: near-dup candidates over an ingest stream",
    "Streams.scala#startDedupIndexProbe" ->
      "streaming production path: probes the standing dedup index per micro-batch",
    "Streams.scala#startCosineIndexProbe" ->
      "streaming production path: probes the standing cosine index per micro-batch",
    "Dedup.scala#writeCosineIndex" ->
      "streaming production path: builds the index startCosineIndexProbe reads")

  test("every public def in src/main is reached, or allowlisted with a reason") {
    val flagged = unreachedDefs(
      Seq("src/main/scala", "perfbench/src/main/scala").flatMap(d =>
        scalaFiles(new java.io.File(d)).map(f =>
          (f.getName, java.nio.file.Files.readString(f.toPath),
            f.getPath.startsWith("src/main")))))
    val fresh = flagged.filterNot(unreached.contains)
    assert(fresh.isEmpty, "public defs nothing calls (call, delete or make " +
      s"private): ${fresh.toSeq.sorted.mkString(", ")}")
    val stale = unreached.keySet -- flagged
    assert(stale.isEmpty, "these defs are reached or gone now; drop them " +
      s"from the allowlist: ${stale.toSeq.sorted.mkString(", ")}")
    val badReason = unreached.filterNot { case (_, r) =>
      reasons.exists(l => r.startsWith(l + ": ")) }
    assert(badReason.isEmpty, s"reasons must start with one of $reasons: $badReason")
  }

  test("the scan strips comments, keeps strings, skips local and non-public defs") {
    val src =
      """object A {
        |  def used(x: Int) = x
        |  def unused = 1 // used(2)
        |  def inString = s"${viaInterpolation(3)} \" /* not a comment */ "
        |  def viaInterpolation(i: Int) = i
        |  /* def commented = 1; unused */
        |  private def hidden = 1
        |  private[graft] def scoped = 1
        |  override def toString = "A"
        |  def outer = { def local = used(1); local }
        |  class B(f: Int => Int = { y => y }) { def member = '{' }
        |  def twin = 1
        |  def main(args: Array[String]): Unit = ()
        |}
        |""".stripMargin
    val caller = "object C { val v = A.used(1) + A.inString.length; def twin = 2 }"
    assert(unreachedDefs(Seq(("A.scala", src, true), ("C.scala", caller, false))) ===
      Set("A.scala#unused", "A.scala#outer", "A.scala#member", "A.scala#twin"))
  }
}

object ReachSpec {

  /** The reasons a public def may go uncalled. */
  val reasons: Seq[String] = Seq("driver contract", "reference port, spec-pinned",
    "test reference", "streaming production path")

  /** The `.scala` files under `d`, in a stable order. */
  def scalaFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  /** `File.scala#name` of each member-level public def in the sources
    * marked scanned whose name occurs, as a whole word, nowhere in
    * `sources` but in definitions: a second def of the same name does
    * not count as a call. `main` is the JVM's entry point. */
  def unreachedDefs(sources: Seq[(String, String, Boolean)]): Set[String] = {
    val lexed = sources.map { case (name, text, scanned) => (name, lex(text), scanned) }
    def counts(words: Iterator[String]) = words.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val words = counts(lexed.iterator.flatMap { case (_, (code, _), _) =>
      "\\w+".r.findAllIn(code) })
    val defined = counts(lexed.iterator.flatMap { case (_, (_, skeleton), _) =>
      """\bdef\s+(\w+)""".r.findAllMatchIn(skeleton).map(_.group(1)) })
    lexed.filter(_._3).flatMap { case (file, (_, skeleton), _) =>
      publicDefs(skeleton).filter(n => n != "main" && words(n) == defined(n))
        .map(n => s"$file#$n")
    }.toSet
  }

  private val charLiteral = """'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r

  /** `src` without comments, string literals kept (an interpolation or
    * a SQL text can make a real call), and the same text with the
    * literals' contents blanked, for the brace scan. */
  def lex(src: String): (String, String) = {
    val code = new StringBuilder
    val skeleton = new StringBuilder
    def literal(from: Int, until: Int): Int = {
      val s = src.substring(from, until)
      code ++= s
      skeleton ++= s.map(c => if (c == '"' || c == '\n') c else ' ')
      until
    }
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var depth = 1  // Scala block comments nest
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        code += ' '; skeleton += ' '
      } else if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        while (j >= 0 && src.startsWith("\"\"\"\"", j)) j += 1
        i = literal(i, if (j < 0) n else j + 3)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        i = literal(i, math.min(j + 1, n))
      } else {
        val char =
          if (src(i) == '\'') charLiteral.findPrefixOf(src.substring(i, math.min(i + 8, n)))
          else None
        char match {
          case Some(c) => i = literal(i, i + c.length)
          case None => code += src(i); skeleton += src(i); i += 1
        }
      }
    }
    (code.toString, skeleton.toString)
  }

  private val token = """[{}();]|\bdef\s+([A-Za-z_]\w*)""".r
  private val keyword = """[()]|\b(def|val|var|class|object|trait|type|new)\b""".r

  /** Names of the defs directly inside a class, object or trait body
    * that are not private, protected or override. A `{` opens such a
    * body when the last keyword before it (outside parentheses) is
    * `class`, `object` or `trait`. */
  def publicDefs(skeleton: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    // (template body, enclosing paren depth) per open brace
    var stack = List.empty[(Boolean, Int)]
    var segStart = 0
    var parens = 0
    token.findAllMatchIn(skeleton).foreach { m =>
      m.matched match {
        case "(" => parens += 1
        case ")" => parens -= 1
        case "{" if parens > 0 =>  // a block argument: the header goes on
          stack ::= ((false, parens))
          parens = 0
        case "{" =>
          var depth = 0
          var last = ""
          keyword.findAllIn(skeleton.substring(segStart, m.start)).foreach {
            case "(" => depth += 1
            case ")" => depth -= 1
            case k => if (depth <= 0) last = k
          }
          stack ::= ((Set("class", "object", "trait")(last), 0))
          segStart = m.end
        case "}" =>
          stack match {
            case (_, p) :: rest =>
              parens = p; stack = rest
              if (p == 0) segStart = m.end
            case Nil => segStart = m.end
          }
        case ";" => segStart = m.end
        case _ =>
          val lineStart = skeleton.lastIndexOf('\n', m.start) + 1
          val modifiers = skeleton.substring(math.max(segStart, lineStart), m.start)
          if (parens == 0 && stack.headOption.exists(_._1) &&
              !"""\b(private|protected|override)\b""".r.findFirstIn(modifiers).isDefined)
            out += m.group(1)
      }
    }
    out.result()
  }
}
