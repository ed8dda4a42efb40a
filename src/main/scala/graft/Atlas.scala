package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Dev tool: generate ATLAS.md — the operator atlas the repo needs now
  * that 200+ queries span ~50 files. One row per SparkEntry query:
  *
  *   query -> implementing method -> file -> oracle family -> specs
  *
  * Rows carry the file, not a line number: file plus method is
  * greppable, and an edit above a query method then leaves the atlas
  * fresh — it goes stale only when a registry, a binding or the set of
  * specs citing a query changes.
  *
  * Sources of truth are the LIVE registries (SparkEntry.queries /
  * oracleSql at runtime) plus a lexical scan of the source tree for
  * the binding target, its `def` site, and the test files that
  * mention it — so the atlas can never drift from the code: a rename
  * that breaks the scan shows up as "inline" / no-spec rows on the
  * next regeneration, regeneration is one command:
  *
  *   sbt "runMain graft.Atlas"
  *
  * and AtlasSpec fails the build if the committed ATLAS.md differs
  * from a fresh [[generate]] (the r17 advice: generated-but-unpinned
  * docs go stale silently).
  */
object Atlas {
  private def read(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  /** `Files.walk` with the stream CLOSED (it holds directory handles
    * open until then — the r17-advice leak: two per run, unbounded in
    * a long-lived test JVM that regenerates per suite).
    */
  private def scalaFiles(root: String): Vector[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  /** The full atlas markdown, deterministic for a given tree. */
  def generate(): String = {
    val entryPath = Paths.get("src/main/scala/graft/SparkEntry.scala")
    val entryLines = read(entryPath).linesIterator.toVector

    val mainFiles = scalaFiles("src/main/scala")
    val testFiles = scalaFiles("src/test/scala")

    // def-site index: method name -> ALL files defining it across main
    // sources, first-seen order preserved per name
    val defSites: Map[String, Vector[String]] = {
      val defRe = """^\s*(?:private(?:\[\w+\])?\s+|final\s+)*def\s+([A-Za-z0-9_]+)""".r
      val b = scala.collection.mutable.Map.empty[String, Vector[String]]
      for (f <- mainFiles; l <- read(f).linesIterator)
        defRe.findFirstMatchIn(l).foreach { m =>
          b.updateWith(m.group(1)) {
            case Some(v) => Some(v :+ f.toString)
            case None => Some(Vector(f.toString))
          }
        }
      b.toMap
    }
    // a duplicate method name in an unrelated file must not mislabel a
    // query's file (the r17 advice): prefer the def site whose file
    // matches the binding's qualified OBJECT name
    def defSiteFor(obj: String, method: String): Option[String] =
      defSites.get(method).flatMap { sites =>
        sites.find(_.endsWith(s"/$obj.scala")).orElse(sites.headOption)
      }

    // spec index: test files are read once; a query's specs are the
    // files mentioning its registry name or its implementing method
    val testText: Vector[(String, String)] =
      testFiles.map(f => f.getFileName.toString.stripSuffix(".scala") -> read(f))
    def specsCached(tokens: Seq[String], prefix: String): Seq[String] = {
      // specs usually exercise the INNER operator and cite the query by
      // its qNN handle in prose — match that too, word-bounded so q11
      // does not swallow q112
      val prefixRe = ("(?<![A-Za-z0-9_])" +
        java.util.regex.Pattern.quote(prefix) + "(?![0-9])").r
      testText.collect {
        case (name, t)
            if tokens.exists(t.contains) || prefixRe.findFirstIn(t).isDefined =>
          name
      }.distinct.sorted
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    val oracled = SparkEntry.oracleSql.keySet

    // binding target: the expression after `"name" ->` in SparkEntry
    val rows = names.map { name =>
      val bindIdx = entryLines.indexWhere(_.contains("\"" + name + "\" ->"))
      val bindTail = if (bindIdx < 0) "" else {
        val l = entryLines(bindIdx)
        val after = l.substring(l.indexOf("->") + 2).trim
        if (after.nonEmpty) after
        else entryLines.lift(bindIdx + 1).map(_.trim).getOrElse("")
      }
      // qualified method ref like graft.streaming.EventStream.q147TwsSessions _
      val methRe = """([A-Za-z0-9_.]+)\.([A-Za-z0-9_]+)\s*_?\)?,?$""".r
      val (method, site) = methRe.findFirstMatchIn(bindTail.stripSuffix(",")) match {
        case Some(m) =>
          val obj = m.group(1).split('.').last
          defSiteFor(obj, m.group(2)) match {
            case Some(f) => (s"$obj.${m.group(2)}", f)
            case None => ("inline", entryPath.toString)
          }
        case _ =>
          // inline lambda: the query lives in SparkEntry itself
          ("inline", entryPath.toString)
      }
      val oracle = if (oracled.contains(name)) "hash" else "rows-only"
      val prefix = name.takeWhile(_ != '_')
      // "q08" is cited as "q8" in older specs — match both forms
      val prefixAlt = "q" + prefix.drop(1).dropWhile(_ == '0')
      val specs = specsCached(
        Seq("\"" + name + "\"") ++
          (if (method == "inline") Seq.empty else Seq(method.split('.').last)),
        prefix) ++ (if (prefixAlt != prefix)
          specsCached(Seq.empty, prefixAlt) else Seq.empty)
      (name, method, site, oracle, specs.distinct.sorted)
    }

    val sb = new StringBuilder
    sb ++= "# Operator Atlas\n\n"
    sb ++= "Generated by `sbt \"runMain graft.Atlas\"` — do not edit by hand.\n"
    sb ++= s"${rows.size} queries; ${rows.count(_._4 == "hash")} hash-matched " +
      s"against the DuckDB oracle, ${rows.count(_._4 == "rows-only")} rows-only.\n\n"
    sb ++= "| query | operator | file | oracle | specs |\n"
    sb ++= "|---|---|---|---|---|\n"
    for ((name, method, site, oracle, specs) <- rows) {
      val specCell = if (specs.isEmpty) "—" else specs.take(4).mkString(", ") +
        (if (specs.size > 4) s" (+${specs.size - 4})" else "")
      sb ++= s"| $name | $method | $site | $oracle | $specCell |\n"
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "ATLAS.md"
    val text = generate()
    Files.write(Paths.get(out), text.getBytes("UTF-8"))
    println(s"wrote $out (${text.linesIterator.count(_.matches("""\| q\d.*"""))} rows)")
  }
}
