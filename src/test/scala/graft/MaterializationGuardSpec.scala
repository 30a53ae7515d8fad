package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One materialization policy, enforced mechanically: `DfMemo` is the
  * only code in `src/main` that checkpoints a frame. A raw
  * `localCheckpoint()` elsewhere bypasses the local/persist/reliable
  * mode, and off-local its blocks are the only copy of the data, so one
  * executor loss fails every query behind it. Frames shared within a
  * plan or carried across loop rounds go through
  * `DfMemo.materializeFrame` instead. */
class MaterializationGuardSpec extends AnyFunSuite {

  private val Owner = Paths.get("functions", "DfMemo.scala")

  private val RawCall = """\.\s*(localCheckpoint|checkpoint)\b""".r

  /** Scala source with every comment blanked (line and nested block
    * comments; string and char literals are kept and never mistaken
    * for comment starts). Newlines survive, so line numbers hold. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    def at(k: Int) = if (k < src.length) src.charAt(k) else '\u0000'
    var i = 0
    while (i < src.length) {
      val c = src.charAt(i)
      if (c == '/' && at(i + 1) == '/') {
        while (i < src.length && src.charAt(i) != '\n') i += 1
      } else if (c == '/' && at(i + 1) == '*') {
        var depth = 1
        i += 2
        while (i < src.length && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else { if (src.charAt(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (src.startsWith("\"\"\"", i)) {
        val close = src.indexOf("\"\"\"", i + 3)
        var end = if (close < 0) src.length else close + 3
        while (at(end) == '"') end += 1
        out ++= src.substring(i, end)
        i = end
      } else if (c == '"') {
        var j = i + 1
        while (j < src.length && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        val end = math.min(j + 1, src.length)
        out ++= src.substring(i, end)
        i = end
      } else if (c == '\'' && (at(i + 2) == '\'' || at(i + 1) == '\\')) {
        // a char literal: 'x', '\n' or '\''
        val close = if (at(i + 1) == '\\') src.indexOf('\'', i + 3) else i + 2
        val end = if (close < 0) src.length else close + 1
        out ++= src.substring(i, end)
        i = end
      } else {
        out += c
        i += 1
      }
    }
    out.toString
  }

  /** Raw checkpoint calls in one source, as 1-based line numbers. */
  private def rawCalls(src: String): Seq[Int] = {
    val code = stripComments(src)
    RawCall.findAllMatchIn(code)
      .map(m => code.substring(0, m.start).count(_ == '\n') + 1).toSeq
  }

  test("the scanner sees calls through comments, strings and chains") {
    assert(rawCalls("val a = df.localCheckpoint()") == Seq(1))
    assert(rawCalls("val a = df\n  .filter(x)\n  .checkpoint()") == Seq(3))
    assert(rawCalls("// df.localCheckpoint()\n/* a /* b */ df.checkpoint() */")
      .isEmpty)
    assert(rawCalls("/** x.localCheckpoint() */ val c = '\"'; x.checkpoint()")
      == Seq(1))
    assert(rawCalls("val s = \"//\"; x.localCheckpoint()") == Seq(1))
    assert(rawCalls("val s = \"\"\"a // b\"\"\"\nx.localCheckpoint()") == Seq(2))
    assert(rawCalls("sc.setCheckpointDir(d); o.checkpointLocation").isEmpty)
  }

  test("no raw localCheckpoint()/checkpoint() in src/main outside DfMemo") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def callsIn(p: Path) =
      rawCalls(new String(Files.readAllBytes(p), "UTF-8"))
    val (owner, rest) = files.partition(_.endsWith(Owner))
    // positive control: the owner's own materialization is visible to
    // the scan, so an empty result below means "none", not "unseen"
    assert(owner.size == 1 && callsIn(owner.head).nonEmpty)
    val raw = rest.flatMap(p => callsIn(p).map(l => s"$p:$l"))
    assert(raw.isEmpty,
      "raw checkpoint calls bypass DfMemo's materialization mode; use " +
        s"DfMemo.materializeFrame(spark, df):\n${raw.mkString("\n")}")
  }
}
