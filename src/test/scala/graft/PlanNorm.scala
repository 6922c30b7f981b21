package graft

/** Normalizes a physical plan's `treeString` so that one plan prints one
  * text in any JVM, whatever ran before it. It strips what Spark numbers
  * per JVM or per run:
  *
  *  - expression ids (`#12`, `#12L`), codegen stage ids (`*(3)`) and
  *    exchange ids (`plan_id=`)
  *  - RDD ids and call sites of `ExistingRDD` scans
  *  - generated lambda variable and class names, object hashes
  *  - temporary and warehouse paths, and the test data directory
  *
  * and orders what Spark orders by hash. `RewriteDistinctAggregates`
  * plans several distinct aggregates as one Expand with a row per
  * distinct group, a column per distinct child and a `gid` column naming
  * the row. It takes the groups and the children from hash maps keyed on
  * expressions with ids in them, so row order, child column order and
  * the `gid` literals all move with the ids. Here the child columns are
  * put in name order (in the Expand and in every list above it that
  * names them), the rows are sorted by their id-free text, and `gid` is
  * renumbered in row order, in the rows and in every `gid = N` test. */
object PlanNorm {
  def apply(plan: String, dataDir: String): String = {
    val expands = plan.linesIterator.flatMap(canonicalExpand).toSeq
    val lines = plan.linesIterator.map { line =>
      expands.find(_.line == line).fold(line)(_.text)
    }.mkString("\n")
    val canonical = expands.foldLeft(lines) { (text, e) =>
      val regidded = s"\\b${java.util.regex.Pattern.quote(e.gid)} = (\\d+)\\b".r
        .replaceAllIn(text, m => s"${e.gid} = ${e.renumber.getOrElse(m.group(1), m.group(1))}")
      mapLists(regidded, reorderRuns(_, e.rank))
    }
    Subs.foldLeft(canonical.replace(dataDir, "<sf>")) { case (text, (pattern, repl)) =>
      pattern.replaceAllIn(text, repl)
    } + "\n"
  }

  private val Subs = Seq(
    """#\d+L?\b""" -> "#n",
    """\*\(\d+\) """ -> "*(n) ",
    """plan_id=\d+""" -> "plan_id=n",
    """\b\w*RDD\[\d+\] at \w+ at [\w.$]+:\d+""" -> "<rdd>",
    """\b(x|y|acc|k|v)_\d+\b""" -> "$1_n",
    """\$\$Lambda[\w$/]*""" -> "\\$\\$Lambda",
    """@[0-9a-f]+\b""" -> "@hash",
    """file:/tmp/[^\s,\])]*""" -> "<tmp>",
    """(file:)?/[^\s,\])]*spark-warehouse[^\s,\])]*""" -> "<warehouse>",
  ).map { case (p, r) => (p.r, r) }

  private val ExpandLine = """^(.*Expand )\[(.*)\], \[([^\[\]]*)\]$""".r
  private val Id = """#\d+L?\b""".r
  private val TrailingId = """#(\d+)L?$""".r.unanchored

  /** A distinct-aggregate Expand: its `line` as printed and as `text`
    * after canonicalization, its `gid` attribute with the old -> new
    * numbers, and the rank of each distinct child column id. */
  private final case class Expand(line: String, text: String, gid: String,
      renumber: Map[String, String], rank: Map[String, Int])

  private def canonicalExpand(line: String): Option[Expand] = line match {
    case ExpandLine(head, rowsText, outText) =>
      val out = split(outText)
      val g = out.indexWhere(_.startsWith("gid#"))
      val rows = split(rowsText).map(r => split(r.stripPrefix("[").stripSuffix("]")))
      if (g < 0 || rows.exists(_.length != out.length)) None
      else {
        // distinct children: columns left of gid that some row nulls out
        val children = (0 until g).filter(j => rows.exists(_(j) == "null"))
        val byName = children.sortBy(j => Id.replaceAllIn(out(j), ""))
        val perm = (0 until out.length).map(j =>
          children.indexOf(j) match { case -1 => j; case c => byName(c) })
        def permute(r: Vector[String]) = perm.map(r).toVector
        val sorted = rows.map(permute)
          .sortBy(r => Id.replaceAllIn(r.patch(g, Nil, 1).mkString(", "), "#n"))
        val renumber = sorted.zipWithIndex.map { case (r, i) => r(g) -> i.toString }.toMap
        val text = sorted.map(r => r.updated(g, renumber(r(g))).mkString("[", ", ", "]"))
          .mkString(s"$head[", ", ", permute(out).mkString("], [", ", ", "]"))
        val rank = byName.zipWithIndex.flatMap { case (j, i) =>
          TrailingId.findFirstMatchIn(out(j)).map(_.group(1) -> i)
        }.toMap
        Some(Expand(line, text, out(g), renumber, rank))
      }
    case _ => None
  }

  /** `parts` with each run of consecutive elements whose trailing id has
    * a rank put in rank order. */
  private def reorderRuns(parts: Vector[String], rank: Map[String, Int]): Vector[String] = {
    val ranks = parts.map(p => TrailingId.findFirstMatchIn(p).flatMap(m => rank.get(m.group(1))))
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < parts.length) {
      val end = if (ranks(i).isEmpty) i + 1
        else ranks.indexWhere(_.isEmpty, i) match { case -1 => parts.length; case e => e }
      out ++= (i until end).sortBy(ranks(_)).map(parts)
      i = end
    }
    out.result()
  }

  /** `s` with `f` applied to the elements of every bracketed or
    * parenthesized comma list, inner lists first. Text `f` leaves in
    * place comes back unchanged, spacing included. */
  private def mapLists(s: String, f: Vector[String] => Vector[String]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val close = if (s(i) == '[' || s(i) == '(') matching(s, i) else -1
      if (close < 0) { sb += s(i); i += 1 }
      else {
        val raw = splitRaw(s.substring(i + 1, close)).map(mapLists(_, f))
        val trimmed = raw.map(_.trim)
        val moved = f(trimmed)
        val body = if (moved == trimmed) raw
          else raw.zip(moved).map { case (r, p) => r.takeWhile(_ == ' ') + p }
        sb += s(i) ++= body.mkString(",") += s(close)
        i = close + 1
      }
    }
    sb.toString
  }

  /** Index of the bracket that closes the one at `open`, or -1. */
  private def matching(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s(i) match {
        case '[' | '(' => depth += 1
        case ']' | ')' =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** `s` cut at the commas that sit outside any bracket or parenthesis. */
  private def splitRaw(s: String): Vector[String] = {
    val parts = Vector.newBuilder[String]
    var depth = 0
    var start = 0
    s.indices.foreach { i =>
      s(i) match {
        case '[' | '(' => depth += 1
        case ']' | ')' => depth -= 1
        case ',' if depth == 0 =>
          parts += s.substring(start, i)
          start = i + 1
        case _ =>
      }
    }
    (parts += s.substring(start)).result()
  }

  private def split(s: String): Vector[String] = splitRaw(s).map(_.trim)
}
