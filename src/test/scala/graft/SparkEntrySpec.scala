package graft

/** Contract guards for the driver-facing catalog: every query declared in
  * [[SparkEntry.queries]] must carry a DuckDB oracle (round 3 reached
  * 100% oracle coverage — this pins it), the flagship entry must
  * return rows on the smallest scale factor, every session is built
  * by [[LocalSession]], and no library member outlives its last caller. */
class SparkEntrySpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  import scala.collection.Searching.{Found, InsertionPoint}
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
  private def stripComments(src: String): String = splitComments(src)._1

  /** (code, comment text) of `src`: `stripComments`' output, and the text
    * of every comment it blanked, each kept on its own lines. */
  private def splitComments(src: String): (String, String) = {
    val out = new StringBuilder(src.length)
    val notes = new StringBuilder
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
        while (i < n && src(i) != '\n') { notes += src(i); i += 1 }
        notes += '\n'
      } else if (at("/*")) {
        var depth = 0
        while (i < n && { if (at("/*")) { depth += 1; i += 2 }
            else if (at("*/")) { depth -= 1; i += 2 }
            else { if (src(i) == '\n') out += '\n'; notes += src(i); i += 1 }
            depth > 0 }) ()
        notes += '\n'
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
    (out.result(), notes.result())
  }

  /** Kept reference surface, as `Object.member`: entry points of the
    * reference's own programs that only specs call today (the `.cfg`
    * reader, the cron-driven stream and its compaction, provenance tasks,
    * the S10/S12 disk-walk and log-tail readers, the P11–P14 derived
    * columns, and the S14 nightsum fetch seam, whose deployment passes
    * its own HTTP client). */
  private val ReferenceSurface = Set(
    "IngestPipeline.configFromFile", "IngestPipeline.runStream",
    "IngestPipeline.maybeCompact", "Provenance.createTask",
    "Provenance.loadTasks", "MonitorOps.diskWalkExposures",
    "MonitorOps.latestLogFile", "Derived.bandOf", "Derived.fieldOf",
    "Derived.isSne", "Derived.manifestNameOf", "NightsumIndex.load")

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
    """^(?:(?:case|sealed|abstract|final|private(?:\[\w+\])?)\s+)*(object|class|trait)\s+(\w+).*""".r
  private val Member =
    """^( {2}| {4})((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|lazy\s+)*)(def|val|var|object|class|trait|case\s+class)\s+([A-Za-z_]\w*).*""".r

  /** (owner, name, first line, end line exclusive) of every `def`/`val`/
    * `var` member of a top-level object, or of an object nested one level
    * in one, in comment-stripped `lines`; the owner is the innermost
    * object. A definition ends before the next line indented no deeper
    * that is not a closing bracket. */
  private def objectMembers(lines: Array[String]): Seq[(String, String, Int, Int)] = {
    var top = ""    // kind of the enclosing top-level definition
    var topName = ""
    var nested = "" // kind of the enclosing indent-2 definition
    var nestedName = ""
    lines.indices.flatMap { i =>
      lines(i) match {
        case Top(kind, name) => top = kind; topName = name; nested = ""; Nil
        case Member(ind, mods, kind, name) if top == "object" =>
          if (ind.length == 2) { nested = kind; nestedName = name }
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
            List((if (ind.length == 2) topName else nestedName, name, i, end))
          }
        case _ => Nil
      }
    }
  }

  /** A linted member: its file, innermost object, name and line span. */
  private case class Def(file: Path, owner: String, name: String, from: Int, to: Int) {
    def key = s"$owner.$name"
  }

  private val Word = """\b\w+\b""".r
  /** `Owner.member` written out, across a line break too; the lookahead
    * lets `a.b.c` yield both `a.b` and `b.c`. */
  private val Qualified = """(\w+)(?=\s*\.\s*(\w+))""".r

  test("every library object member is reachable from a production root") {
    // the usage examples under tools/*Demo.scala are no roots: a member
    // only a demo prints is not production code
    val demos = Paths.get("src/main/scala/graft/tools")
    val code = (scalaFiles("src/main/scala") ++
        scalaFiles("perfbench/src/main/scala"))
      .filterNot(f => f.startsWith(demos) && f.toString.endsWith("Demo.scala"))
      .map(f => f -> stripComments(Files.readString(f)).split("\n", -1))
      .toMap
    val members = code.toSeq.collect {
      case (f, lines) if LintedDirs.exists(d =>
          f.startsWith(Paths.get("src/main/scala/graft", d))) =>
        objectMembers(lines).map { case (o, n, from, to) => Def(f, o, n, from, to) }
    }.flatten
    assert(members.size > 500, s"lint saw only ${members.size} members")
    // name -> (owner, owner's file) of every object defining it
    val owners: Map[String, Seq[(String, Path)]] =
      members.groupMap(_.name)(m => (m.owner, m.file)).view.mapValues(_.distinct).toMap
    // per file: the objects it imports members from, and the (line,
    // Owner.member) pairs it writes out
    val importsFrom: Map[Path, Set[String]] = code.map { case (f, lines) =>
      f -> lines.iterator.map(_.trim).filter(_.startsWith("import "))
        .flatMap(l => "(\\w+)\\s*\\.".r.findAllMatchIn(l).map(_.group(1))).toSet
    }
    val qualified: Map[Path, Set[(Int, String)]] = code.map { case (f, lines) =>
      val starts = lines.scanLeft(0)(_ + _.length + 1).toIndexedSeq
      f -> Qualified.findAllMatchIn(lines.mkString("\n")).map { m =>
        val line = starts.search(m.start(2)) match {
          case Found(k) => k
          case InsertionPoint(k) => k - 1
        }
        (line, s"${m.group(1)}.${m.group(2)}")
      }.toSet
    }
    // a name defined in one object names that member wherever it appears;
    // a name several objects share names object O's member only in O's
    // file, written as `O.name`, or in a file importing from O
    def named(f: Path, idx: Iterable[Int]): Set[String] = idx.flatMap { i =>
      Word.findAllIn(code(f)(i)).flatMap { n =>
        val defs = owners.getOrElse(n, Nil)
        defs.collect { case (o, of) if defs.size == 1 || of == f ||
            importsFrom(f)(o) || qualified(f)((i, s"$o.$n")) => s"$o.$n" }
      }
    }.toSet
    // roots: every line outside a linted member's definition (the
    // catalog maps' owners, the mains, the report code, perfbench) plus
    // the kept reference surface
    val inMember: Map[Path, Set[Int]] =
      members.groupMapReduce(_.file)(m => (m.from until m.to).toSet)(_ ++ _)
    val roots = code.flatMap { case (f, lines) =>
      val skip = inMember.getOrElse(f, Set.empty[Int])
      named(f, lines.indices.filterNot(skip))
    }.toSet ++ ReferenceSurface
    // to a fixpoint: a member is used when a root or a used member names
    // it — a member naming itself (recursion) does not count
    val bodies = members.groupMapReduce(_.key) { m =>
      named(m.file, m.from until m.to) - m.key }(_ ++ _)
    var used = roots
    var frontier = roots
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(n => bodies.getOrElse(n, Set.empty[String])) -- used
      used ++= next
      frontier = next
    }
    val unused = members.filterNot(m => used(m.key))
      .map(m => s"${m.file.getFileName}:${m.from + 1} ${m.key}")
    if (unused.nonEmpty)
      fail(s"${unused.size} members are unreachable from every production " +
        s"root (delete them, or name the caller):\n${unused.sorted.mkString("\n")}")
    val missing = ReferenceSurface -- members.map(_.key)
    assert(missing.isEmpty, s"reference surface no longer defined: $missing")
  }

  test("every scaladoc [[link]] under src/main names a definition") {
    val files = scalaFiles("src/main/scala")
      .map(f => f -> splitComments(Files.readString(f)))
    val defined = files.flatMap { case (_, (code, _)) =>
      """\b(?:def|val|var|object|class|trait|type)\s+(\w+)""".r
        .findAllMatchIn(code).map(_.group(1))
    }.toSet
    val stale = files.flatMap { case (f, (code, notes)) =>
      // external names the file imports by their fully qualified name
      val imported = """(?m)^\s*import\s+[\w.]+\.(?:(\w+)|\{([^}]*)\})""".r
        .findAllMatchIn(code).flatMap { m =>
          Option(m.group(1)).toSeq ++ Option(m.group(2)).toSeq
            .flatMap(_.split(",").map(_.split("=>").head.trim))
        }.toSet
      """\[\[([^\]]*)\]\]""".r.findAllMatchIn(notes).map(_.group(1)).filterNot { link =>
        val segs = link.replaceAll("""[\s*$]""", "").replaceAll("""\(.*""", "")
          .replace('#', '.').split('.').toSeq
        val pkg = segs.init.takeWhile(_.headOption.exists(_.isLower))
        // a fully qualified name outside graft is external
        (pkg.nonEmpty && pkg.head != "graft") ||
          segs.drop(pkg.size).forall(s => defined(s) || imported(s))
      }.map(link => s"${f.getFileName} [[$link]]")
    }
    assert(stale.isEmpty, "scaladoc links that name no definition in " +
      s"src/main:\n${stale.mkString("\n")}")
  }

  /** `split(<x>, " ")` with up to two levels of nested parens in `<x>`. */
  private val Tokenizer =
    """split\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*,\s*" "\s*\)""".r

  /** Offset past the paren that closes the one opening at `open`. */
  private def closeOf(code: String, open: Int): Int = {
    var depth = 0
    var j = open
    while (j < code.length && { if (code(j) == '(') depth += 1
        else if (code(j) == ')') depth -= 1
        j += 1
        depth > 0 }) ()
    j
  }

  test("tokens are split only in TextOps.toks, n-grams joined only in TextOps.grams") {
    val textOps = Paths.get("src/main/scala/graft/operators/TextOps.scala")
    val hits = scalaFiles("src/main/scala").flatMap { f =>
      val code = stripComments(Files.readString(f))
      val lines = code.split("\n", -1)
      val owner: Map[String, Range] =
        if (f != textOps) Map.empty
        else objectMembers(lines).collect {
          case (_, n @ ("toks" | "grams"), from, to) => n -> (from until to)
        }.toMap
      def lineOf(at: Int) = code.substring(0, at).count(_ == '\n')
      def report(at: Int, what: String, allowedIn: String) = {
        val line = lineOf(at)
        if (owner.get(allowedIn).exists(_.contains(line))) Nil
        else List(s"${f.getFileName}:${line + 1} $what")
      }
      val tokenizers = Tokenizer.findAllMatchIn(code).toList.flatMap(m =>
        report(m.start, s"tokenizer ${m.matched}", "toks"))
      // the zip-shift gram idiom: a zip_with (over shifted slices, maybe
      // bound to vals first) that joins neighbours with a space; a
      // zip_with that only compares neighbours, like ChatOps' role
      // alternation, builds no gram
      val zipShifts = "zip_with\\(".r.findAllMatchIn(code).toList.flatMap { m =>
        if (code.substring(m.start, closeOf(code, m.end - 1)).contains("\" \""))
          report(m.start, "zip-shift n-gram", "grams")
        else Nil
      }
      val toEnd = "Int\\.MaxValue\\s*-\\s*8".r.findAllMatchIn(code).toList
        .map(m => s"${f.getFileName}:${lineOf(m.start) + 1} Int.MaxValue - 8 slice length")
      tokenizers ++ zipShifts ++ toEnd
    }
    assert(hits.isEmpty, "build tokens with TextOps.toks and n-grams with " +
      s"TextOps.grams (Int.MaxValue - 8 overflows a slice from 10 on):\n${hits.mkString("\n")}")
  }

  /** A reader chain (`.read`, then calls other than `.schema(...)`) that
    * ends in `.parquet(`: the read infers its schema with a Spark job. */
  private val SchemalessParquet =
    """\.read(?:\s*\.(?!schema\b)\w+\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))*\s*\.parquet\(""".r

  test("src/main infers parquet schemas only in the Tables resolver") {
    val tables = Paths.get("src/main/scala/graft/sources/Tables.scala")
    val (inResolver, elsewhere) = scalaFiles("src/main/scala").flatMap { f =>
        val code = stripComments(Files.readString(f))
        val resolver =
          if (f != tables) 0 until 0
          else objectMembers(code.split("\n", -1)).collectFirst {
            case ("Tables", "resolved", from, to) => from until to
          }.getOrElse(0 until 0)
        SchemalessParquet.findAllMatchIn(code).map { m =>
          val line = code.substring(0, m.start).count(_ == '\n')
          resolver.contains(line) -> s"${f.getFileName}:${line + 1}"
        }
      }.partition(_._1)
    assert(elsewhere.isEmpty, "read these under a known schema: a table " +
      "you wrote through ScaleUtils.stored or MaterializeCache.table, any " +
      s"other through Tables.parquet:\n${elsewhere.map(_._2).mkString("\n")}")
    assert(inResolver.size == 1, s"Tables resolves once: ${inResolver.map(_._2)}")
  }

  test("src/main lists files only through ScaleUtils.filesUnder") {
    // listFiles and listLocatedStatus build a LocatedFileStatus per entry,
    // and Hadoop's local FileSystem without its native library forks an
    // `ls -ld` for each one's permission
    val hits = scalaFiles("src/main/scala").flatMap { f =>
      val lines = Files.readString(f).split("\n", -1)
      lines.indices.filter(i =>
          Seq("listFiles(", "listLocatedStatus(").exists(lines(i).contains))
        .map(i => s"${f.getFileName}:${i + 1}")
    }
    assert(hits.isEmpty, "list through ScaleUtils.filesUnder, which builds " +
      s"no LocatedFileStatus:\n${hits.mkString("\n")}")
  }

  test("checkpoint blocks are captured only in ScaleUtils.checkpointRdds") {
    val scaleUtils = Paths.get("src/main/scala/graft/functions/ScaleUtils.scala")
    val hits = scalaFiles("src/main/scala").filter(_ != scaleUtils).flatMap { f =>
      val lines = stripComments(Files.readString(f)).split("\n", -1)
      lines.indices.filter(i => lines(i).contains("LogicalRDD"))
        .map(i => s"${f.getFileName}:${i + 1}")
    }
    assert(hits.isEmpty, "free local-checkpoint blocks through " +
      s"ScaleUtils.checkpointRdds or ScaleUtils.CheckpointSlot:\n${hits.mkString("\n")}")
  }
}
