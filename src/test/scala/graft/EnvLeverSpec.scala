package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guards on the engine's shape.
  *
  * Keeps environment-switched code paths out of the engine: every build,
  * query and maintenance step has one path, chosen in code. The only
  * environment reads allowed are the bench/verify mains' own settings
  * and `Indexes.scratchBase` (GRAFT_SCRATCH_DIR, a deployment path that
  * changes where an index lives, never how it is built).
  *
  * Keeps the build checkpoint layout in one module: `_checkpoints/` is
  * the build's scratch, and a built index's state is its manifest.
  *
  * Keeps the session's file-scan split size under one helper,
  * `IndexBuilder.withReadSplit`, which restores what it changed.
  */
class EnvLeverSpec extends AnyFunSuite {

  private lazy val files: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val fs = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(fs.size > 30, s"only ${fs.size} sources under $root")
    fs
  }

  /** (line number, trimmed line) of every line of `f` matching `re`. */
  private def matching(f: Path, re: scala.util.matching.Regex): Seq[(Int, String)] =
    new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      .split("\n").toSeq.zipWithIndex
      .collect { case (l, i) if re.findFirstIn(l).nonEmpty => (i + 1, l.trim) }

  test("no environment reads in src/main/scala outside Bench, Verify and Indexes.scratchBase") {
    val envRead = """sys\.env|System\.getenv""".r
    def reads(f: Path): Seq[(Int, String)] = matching(f, envRead)
    val exempt = Set("Bench.scala", "Verify.scala")
    val offenders = files
      .filterNot(f => exempt(f.getFileName.toString))
      .flatMap(f => reads(f).map { case (n, l) => s"$f:$n: $l" })
      .filterNot(_.contains("Indexes.scala:"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // Indexes.scala: exactly the one scratch-dir read
    val indexes = files.filter(_.getFileName.toString == "Indexes.scala")
    assert(indexes.size == 1)
    val idx = reads(indexes.head)
    assert(idx.size == 1 && idx.head._2.contains("\"GRAFT_SCRATCH_DIR\""),
      idx.mkString("\n"))
  }

  test("_checkpoints appears in src/main/scala only in IndexBuilder.scala") {
    val offenders = files
      .filterNot(_.getFileName.toString == "IndexBuilder.scala")
      .flatMap(f => matching(f, "_checkpoints".r)
        .map { case (n, l) => s"$f:$n: $l" })
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(files.exists(f => f.getFileName.toString == "IndexBuilder.scala" &&
      matching(f, "_checkpoints".r).nonEmpty))
  }

  test("maxPartitionBytes appears in src/main/scala only in IndexBuilder.withReadSplit") {
    val key = "maxPartitionBytes".r
    val offenders = files
      .filterNot(f => Set("Bench.scala", "IndexBuilder.scala")(
        f.getFileName.toString))
      .flatMap(f => matching(f, key).map { case (n, l) => s"$f:$n: $l" })
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // in IndexBuilder.scala: only from the helper's scaladoc to the end
    // of its body
    val ib = files.filter(_.getFileName.toString == "IndexBuilder.scala")
    assert(ib.size == 1)
    val lines = new String(Files.readAllBytes(ib.head), StandardCharsets.UTF_8)
      .split("\n").toSeq
    val defAt = lines.indexWhere(_.contains("def withReadSplit"))
    assert(defAt > 0, "IndexBuilder.withReadSplit not found")
    val from = lines.lastIndexWhere(_.trim.startsWith("/**"), defAt) + 1
    val to = lines.indexWhere(_ == "  }", defAt) + 1
    val outside = matching(ib.head, key).filterNot { case (n, _) =>
      n >= from && n <= to
    }
    assert(outside.isEmpty, outside.mkString("\n"))
    assert(matching(ib.head, key).exists { case (n, l) =>
      n > defAt && n <= to && l.contains("\"spark.sql.files.maxPartitionBytes\"")
    })
  }
}
