package graft

/** Contract guards for the driver-facing catalog: every query declared in
  * [[SparkEntry.queries]] must carry a DuckDB oracle (round 3 reached
  * 100% oracle coverage — this pins it), the flagship entry must
  * return rows on the smallest scale factor, every session is built
  * by [[LocalSession]], and no library member outlives its last caller. */
class SparkEntrySpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  import java.nio.file.{Files, Path, Paths}

  private def scalaFiles(root: String): List[Path] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return Nil
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** `src` with every `//` and (nested) block comment blanked; string and
    * char literals are kept verbatim and line breaks are preserved, so a
    * name that only a scaladoc `[[link]]` mentions is not a use. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    // copy a literal "..." from i (interpolated `${...}` blocks may hold
    // quotes of their own); returns the index past the closing quote
    def stringEnd(from: Int): Int = {
      val interp = from > 0 && (src(from - 1).isLetterOrDigit || src(from - 1) == '_')
      var j = from + 1
      while (j < n && src(j) != '"' && src(j) != '\n') {
        if (src(j) == '\\') j += 2
        else if (interp && src.startsWith("${", j)) {
          var depth = 1
          j += 2
          while (j < n && depth > 0) {
            if (src(j) == '{') depth += 1
            else if (src(j) == '}') depth -= 1
            else if (src(j) == '"') j = stringEnd(j) - 1
            j += 1
          }
        } else j += 1
      }
      math.min(j + 1, n)
    }
    while (i < n) {
      if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while (i < n && { if (at("/*")) { depth += 1; i += 2 }
            else if (at("*/")) { depth -= 1; i += 2 }
            else { if (src(i) == '\n') out += '\n'; i += 1 }
            depth > 0 }) ()
      } else if (at("\"\"\"")) {
        val close = src.indexOf("\"\"\"", i + 3)
        var j = if (close < 0) n else close + 3
        while (j < n && src(j) == '"') j += 1
        out ++= src.substring(i, j); i = j
      } else if (src(i) == '"') {
        val j = stringEnd(i)
        out ++= src.substring(i, j); i = j
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' &&
          src(i + 3) == '\'') {
        out ++= src.substring(i, i + 4); i += 4
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        out ++= src.substring(i, i + 3); i += 3
      } else { out += src(i); i += 1 }
    }
    out.result()
  }

  /** Kept reference surface: entry points of the reference's own programs
    * that only specs call today (the `.cfg` reader, the cron-driven
    * stream and its compaction, provenance tasks, the S10/S12 disk-walk
    * and log-tail readers, the P11–P14 derived columns) and the readers
    * of tables the curated-ingest loop writes. */
  private val ReferenceSurface = Set(
    "configFromFile", "runStream", "maybeCompact", "createTask",
    "loadTasks", "diskWalkExposures", "latestLogFile", "bandOf", "fieldOf",
    "isSne", "manifestNameOf", "loadIngestMetrics", "loadTokenSketch",
    "tokenSketchEst")

  private val LintedDirs =
    Seq("operators", "streaming", "functions", "sources", "plans")

  test("every catalog query has a DuckDB oracle (no silent rows-only)") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries == oracles,
      s"missing oracles: ${(queries -- oracles).toSeq.sorted.mkString(", ")}; " +
        s"orphan oracles: ${(oracles -- queries).toSeq.sorted.mkString(", ")}")
  }

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SparkSession.builder( appears once in src/main/scala: LocalSession") {
    val files = scalaFiles("src/main/scala")
    assert(files.size > 1)
    val hits = files.flatMap { f =>
      val n = "SparkSession\\.builder\\(".r
        .findAllMatchIn(Files.readString(f)).size
      List.fill(n)(f.getFileName.toString)
    }
    assert(hits == List("LocalSession.scala"), hits)
  }

  private val Top =
    """^(?:(?:case|sealed|abstract|final|private(?:\[\w+\])?)\s+)*(object|class|trait)\s.*""".r
  private val Member =
    """^( {2}| {4})((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|lazy\s+)*)(def|val|var|object|class|trait|case\s+class)\s+([A-Za-z_]\w*).*""".r

  /** (name, first line, end line exclusive) of every `def`/`val`/`var`
    * member of a top-level object, or of an object nested one level in
    * one, in comment-stripped `lines`. A definition ends before the next
    * line indented no deeper that is not a closing bracket. */
  private def objectMembers(lines: Array[String]): Seq[(String, Int, Int)] = {
    var top = ""    // kind of the enclosing top-level definition
    var nested = "" // kind of the enclosing indent-2 definition
    lines.indices.flatMap { i =>
      lines(i) match {
        case Top(kind) => top = kind; nested = ""; Nil
        case Member(ind, mods, kind, name) if top == "object" =>
          if (ind.length == 2) nested = kind
          val inObject = ind.length == 2 || nested == "object"
          val exempt = mods.contains("override") ||
            mods.contains("implicit") || name == "apply" || name == "unapply"
          if (!inObject || exempt || !Set("def", "val", "var")(kind)) Nil
          else {
            val end = ((i + 1) until lines.length).find { k =>
              val body = lines(k).dropWhile(_ == ' ')
              body.nonEmpty && lines(k).length - body.length <= ind.length &&
                !"})].".contains(body.head)
            }.getOrElse(lines.length)
            List((name, i, end))
          }
        case _ => Nil
      }
    }
  }

  test("every library object member is named outside its own definition") {
    val code = (scalaFiles("src/main/scala") ++
        scalaFiles("perfbench/src/main/scala"))
      .map(f => f -> stripComments(Files.readString(f)).split("\n", -1))
      .toMap
    val members = code.toSeq.collect {
      case (f, lines) if LintedDirs.exists(d =>
          f.startsWith(Paths.get("src/main/scala/graft", d))) =>
        objectMembers(lines).map { case (n, from, to) => (f, n, from, to) }
    }.flatten
    assert(members.size > 500, s"lint saw only ${members.size} members")
    val names = members.map(_._2).toSet
    // per file, per line: how often each member name appears on it
    val uses: Map[Path, Array[Map[String, Int]]] = code.map { case (f, lines) =>
      f -> lines.map(l => """\b\w+\b""".r.findAllIn(l).filter(names).toSeq
        .groupMapReduce(identity)(_ => 1)(_ + _))
    }
    val total = uses.values.toSeq.flatMap(_.toSeq.flatMap(_.toSeq))
      .groupMapReduce(_._1)(_._2)(_ + _)
    val unused = members.filter { case (f, name, from, to) =>
      val own = (from until to).map(i => uses(f)(i).getOrElse(name, 0)).sum
      total.getOrElse(name, 0) == own && !ReferenceSurface(name)
    }.map { case (f, name, from, _) => s"${f.getFileName}:${from + 1} $name" }
    if (unused.nonEmpty)
      fail(s"${unused.size} members are named only in their own definition " +
        s"(delete them, or name the caller):\n${unused.sorted.mkString("\n")}")
    val missing = ReferenceSurface -- names
    assert(missing.isEmpty, s"reference surface no longer defined: $missing")
  }
}
