package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-hygiene gates.
  *
  * Invisible edits: a raw U+00A0/U+2003 inside a string literal (q163's
  * Unicode whitespace-collapse exercise) is indistinguishable from a
  * space in most editors, so any whitespace-normalizing pass would
  * silently desynchronize the Spark literal from the DuckDB oracle's
  * chr(160)||chr(8195). Such characters must appear as visible \\u
  * escapes only.
  *
  * One session builder: sessions are built in `GraftSession.scala` and
  * nowhere else, so a session conf (the fast local FS keys above all)
  * is set in one place.
  *
  * One commit loop: every snapshot commit verb runs
  * `SnapshotOps.casCommit`, so the CAS protocol, its retry budgets and
  * its conflict count live in one place.
  *
  * One session preparation: graft's functions, its optimizer rules, its
  * planner strategies and its codegen naming are put into a session by
  * `GraftSession.prepare` alone (`BinnedRangeJoinRule.install` adds its
  * opt-in rule), so a session graft did not build gets the same setup
  * as one it did.
  *
  * One parquet reader: the metadata plane and the snapshot sources read
  * table-owned parquet files only through `SnapshotOps.readParquet`,
  * which always supplies a schema, so no read plans a schema-inference
  * job.
  *
  * One parquet writer: every table-owned parquet file (data, deletion
  * vector, equality-key) is written by `SnapshotOps.writeFiles`, so the
  * data directory, the layout rule and the partition spec are decided
  * in one place, and the Engine lays out no frame it commits. */
class SourceHygieneSpec extends AnyFunSuite {

  private val invisibleWhitespace: Set[Int] =
    (0x2000 to 0x200B).toSet ++
      Set(0x0085, 0x00A0, 0x2028, 0x2029, 0x202F, 0x205F, 0x3000, 0xFEFF)

  private def scalaSources(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq

  /** (file, 1-based line number, line) for every Scala source line. */
  private lazy val sourceLines: Seq[(Path, Int, String)] =
    (scalaSources("src/main/scala") ++ scalaSources("src/test/scala"))
      .flatMap { p =>
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
          .linesIterator.zipWithIndex.map { case (l, i) => (p, i + 1, l) }
      }

  test("no raw invisible non-ASCII whitespace bytes in any Scala source") {
    val offenders = sourceLines.collect {
      case (p, n, line) if line.exists(c =>
          invisibleWhitespace.contains(c.toInt)) =>
        val codes = line.filter(c => invisibleWhitespace.contains(c.toInt))
          .map(c => f"U+${c.toInt}%04X").mkString(",")
        s"$p:$n: $codes"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** The `def` a 2-space-indented member of `lines` opens at or above
    * index `i`. */
  private def enclosingMember(lines: Seq[String], i: Int): String = {
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r.unanchored
    lines.take(i + 1).reverseIterator.collectFirst {
      case member(name) => name
    }.getOrElse(s"<top of file, line ${i + 1}>")
  }

  test("snapshot commits retry only in SnapshotOps.casCommit") {
    // spelled in pieces so this file does not match itself
    val loop = "while (" + "conflicts"
    val knob = "max" + "Retries"
    val publish = "tryPublish" + "Lines("
    val main = sourceLines.filter(_._1.toString.startsWith("src/main/scala"))
    val hand = main.collect {
      case (p, n, line) if line.contains(loop) || line.contains(knob) =>
        s"$p:$n: ${line.trim}"
    }
    assert(hand.isEmpty, hand.mkString("\n"))
    // the enclosing member of every CAS publish in SnapshotOps
    val snap = main.filter(_._1.getFileName.toString == "SnapshotOps.scala")
      .map(_._3)
    val callers = snap.indices.collect {
      case i if snap(i).contains(publish) &&
          !snap(i).contains("def " + publish) => enclosingMember(snap, i)
    }
    assert(callers.nonEmpty)
    val allowed = Set("casCommit", "casCommitOrDecline", "tryPublish",
      "createBranchFork", "fastForward")
    assert(callers.toSet.subsetOf(allowed),
      s"${publish.init} called outside the commit loop from: " +
        callers.filterNot(allowed).mkString(", "))
  }

  test("sessions are built only in GraftSession") {
    // spelled in pieces so this file does not match itself
    val builder = "SparkSession" + ".builder"
    val fsKey = "spark.hadoop" + ".fs.file.impl"
    // FastLocalFileSystem's scaladoc may still name the key it documents
    def docOfFs(p: Path, line: String) =
      p.getFileName.toString == "FastLocalFileSystem.scala" &&
        line.trim.startsWith("*")
    val offenders = sourceLines.collect {
      case (p, n, line) if p.getFileName.toString != "GraftSession.scala" &&
          (line.contains(builder) ||
            (line.contains(fsKey) && !docOfFs(p, line))) =>
        s"$p:$n: ${line.trim}"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("sessions are prepared only in GraftSession.prepare") {
    // spelled in pieces so this file does not match itself
    val register = "GraftFunctions" + ".register("
    val naming = "useIdIn" + "ClassName"
    // an optimizer rule or a planner strategy put into the session, by
    // `=`, `++=`, `:+=` or `+:=`
    val assign = ("""extra(Optimizations|Strategies)\s*[+:]*""" + "=(?!=)").r
    val prepare = "GraftSession.scala" -> "prepare"
    // (what a line does, the members allowed to do it)
    val checks = Seq[(String => Boolean, Set[(String, String)])](
      (_.contains(register), Set(prepare)),
      (_.contains(naming), Set(prepare)),
      // BinnedRangeJoinRule.install arms its opt-in rule on demand
      (assign.findFirstIn(_).isDefined,
        Set(prepare, "BinnedRangeJoinRule.scala" -> "install")))
    val offenders = scalaSources("src/main/scala").flatMap { p =>
      val lines = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .linesIterator.toSeq
      lines.indices.filterNot(i => lines(i).trim.startsWith("*")).flatMap {
        i =>
          val at = (p.getFileName.toString, enclosingMember(lines, i))
          checks.collectFirst {
            case (hit, ok) if hit(lines(i)) && !ok(at) =>
              s"$p:${i + 1} (in ${at._2}): ${lines(i).trim}"
          }
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("table-owned parquet files are read only through " +
      "SnapshotOps.readParquet") {
    // spelled in pieces so this file does not match itself
    val bare = ("""\.read\s*\.""" + "parquet" + """\(""").r
    val merge = ("""option\(\s*"""" + "mergeSchema" + "\"").r
    val scope = (scalaSources("src/main/scala/graft/sources") ++
      Seq("graft/operators/SnapshotOps.scala",
        "graft/streaming/SnapshotStream.scala",
        "org/apache/spark/sql/graft/SnapshotStreamSource.scala",
        "org/apache/spark/sql/graft/SnapshotStreamSink.scala")
        .map(f => Paths.get("src/main/scala", f))).distinct
    // footerSchema's fallback lets Spark infer a footer it cannot parse
    val allowed = Set("SnapshotOps.scala" -> "footerSchema")
    val offenders = scope.flatMap { p =>
      val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      val lines = text.linesIterator.toSeq
      (bare.findAllMatchIn(text).map(m => (m, true)) ++
        merge.findAllMatchIn(text).map(m => (m, false))).flatMap {
        case (m, isBare) =>
          val i = text.substring(0, m.start).count(_ == '\n')
          val owner = enclosingMember(lines, i)
          if (isBare && allowed((p.getFileName.toString, owner))) None
          else Some(s"$p:${i + 1} (in $owner): ${lines(i).trim}")
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // nor does any other caller read a table's files by listing them
    // out of SnapshotOps (a staged branch, a snapshot's file list)
    val listed = ("""\.read\s*\.""" + "parquet" +
      """\(\s*(?:graft\.operators\.)?SnapshotOps\.""").r
    val outside = scalaSources("src/main/scala").flatMap { p =>
      val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      listed.findAllMatchIn(text).map { m =>
        val i = text.substring(0, m.start).count(_ == '\n')
        s"$p:${i + 1}: ${text.linesIterator.drop(i).next().trim}"
      }
    }
    assert(outside.isEmpty, outside.mkString("\n"))
  }

  test("table-owned parquet files are written only through " +
      "SnapshotOps.writeFiles") {
    // spelled in pieces so this file does not match itself: `.write`,
    // any chained calls, then `.parquet(` or `.partitionBy(`
    val write = ("""\.write\s*(?:\.\w+\([^()]*\)\s*)*\.""" +
      "(?:parquet|partitionBy)" + """\(""").r
    val dir = ("newData" + """Dir\(""").r
    val scope = (scalaSources("src/main/scala/graft/sources") ++
      Seq("graft/operators/SnapshotOps.scala",
        "graft/operators/LayoutOps.scala",
        "graft/streaming/SnapshotStream.scala",
        "org/apache/spark/sql/graft/SnapshotStreamSink.scala")
        .map(f => Paths.get("src/main/scala", f))).distinct
    // zorderWrite lays out a user's directory, not a table's
    val allowed = Set("SnapshotOps.scala" -> "writeFiles",
      "LayoutOps.scala" -> "zorderWrite")
    val offenders = scope.flatMap { p =>
      val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      val lines = text.linesIterator.toSeq
      (write.findAllMatchIn(text) ++ dir.findAllMatchIn(text)).flatMap { m =>
        val i = text.substring(0, m.start).count(_ == '\n')
        val owner = enclosingMember(lines, i)
        if (allowed((p.getFileName.toString, owner)) ||
            lines(i).contains("def " + m.matched)) None
        else Some(s"$p:${i + 1} (in $owner): ${lines(i).trim}")
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the Engine hands every frame it commits to the writer as built:
    // no coalesce of its own
    val engine = Paths.get("src/main/scala/graft/Engine.scala")
    val coalesced = new String(Files.readAllBytes(engine),
      StandardCharsets.UTF_8).linesIterator.zipWithIndex.collect {
      case (l, i) if l.contains("." + "coalesce(") =>
        s"$engine:${i + 1}: ${l.trim}"
    }.toSeq
    assert(coalesced.isEmpty, coalesced.mkString("\n"))
  }
}
