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
  * `DfMemo.materializeFrame` instead.
  *
  * And one builder per memo key: `DfMemo.cached` serves whichever
  * builder ran first for a key, so two `cached(...)` calls under one key
  * must be kept identical by hand. Each key head (the literal text of
  * the key before its first `$` or `:`) has exactly one call site in
  * `src/main`, and every key starts with a literal head. */
class MaterializationGuardSpec extends AnyFunSuite {

  private val Owner = Paths.get("functions", "DfMemo.scala")

  private val RawCall = """\.\s*(localCheckpoint|checkpoint)\b""".r

  private val MemoCall = """\bDfMemo\s*\.\s*cached\s*\(""".r

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

  /** The `DfMemo.cached(` calls in one source as (1-based line, key
    * head), the head `None` when the key argument does not start with a
    * literal (a variable, or an interpolation first). The key is the
    * second argument: skip the session argument to its top-level comma,
    * wherever the call breaks its lines. */
  private def memoHeads(src: String): Seq[(Int, Option[String])] = {
    val code = stripComments(src)
    MemoCall.findAllMatchIn(code).map { m =>
      var i = m.end
      var depth = 0
      while (i < code.length && !(depth == 0 && code.charAt(i) == ',')) {
        code.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        i += 1
      }
      val key = code.substring(math.min(i + 1, code.length)).trim
      val head = Some(key).filter(k => k.startsWith("s\"") || k.startsWith("\""))
        .map(k => k.drop(k.indexOf('"') + 1).takeWhile(c => !"$:\"".contains(c)))
        .filter(_.nonEmpty)
      (code.substring(0, m.start).count(_ == '\n') + 1, head)
    }.toSeq
  }

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  private def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8")

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
    def callsIn(p: Path) = rawCalls(read(p))
    val (owner, rest) = mainSources.partition(_.endsWith(Owner))
    // positive control: the owner's own materialization is visible to
    // the scan, so an empty result below means "none", not "unseen"
    assert(owner.size == 1 && callsIn(owner.head).nonEmpty)
    val raw = rest.flatMap(p => callsIn(p).map(l => s"$p:$l"))
    assert(raw.isEmpty,
      "raw checkpoint calls bypass DfMemo's materialization mode; use " +
        s"DfMemo.materializeFrame(spark, df):\n${raw.mkString("\n")}")
  }

  test("the key-head scanner reads literal heads across lines and args") {
    assert(memoHeads("DfMemo.cached(spark, s\"jaccard_sets:$dir\")(b)")
      == Seq(1 -> Some("jaccard_sets")))
    assert(memoHeads("val m = graft.functions.DfMemo.cached(\n  spark, " +
      "s\"layout_bloom_member:$dir\")(b)") == Seq(1 -> Some("layout_bloom_member")))
    assert(memoHeads("x\nDfMemo.cached(spark, s\"funnel_s$i:$w:$dir\")(b)")
      == Seq(2 -> Some("funnel_s")))
    assert(memoHeads("DfMemo.cached(sig.sparkSession,\n    " +
      "s\"simhash_${tag}bands:$dir\")(b)") == Seq(1 -> Some("simhash_")))
    assert(memoHeads("DfMemo.cached(f(a, (b, c)), \"k\")(b)")
      == Seq(1 -> Some("k")))
    assert(memoHeads("DfMemo.cached(spark, bandsKey)(b)") == Seq(1 -> None))
    assert(memoHeads("DfMemo.cached(spark, s\"$dir:x\")(b)") == Seq(1 -> None))
    assert(memoHeads("// DfMemo.cached(spark, s\"a:$d\")\n/** DfMemo.cached(x, y) */")
      .isEmpty)
    assert(memoHeads("def cached(spark: SparkSession, key: String)").isEmpty)
  }

  test("each memo key head has exactly one DfMemo.cached call in src/main") {
    val sites = mainSources.flatMap(p =>
      memoHeads(read(p)).map { case (l, h) => h -> s"$p:$l" })
    // positive control: the scan sees the memo's call sites at all, so a
    // clean result below means "unique", not "unseen"
    assert(sites.size > 50, s"only ${sites.size} DfMemo.cached calls seen")
    val unheaded = sites.collect { case (None, at) => at }
    assert(unheaded.isEmpty,
      "memo keys must start with a literal head (pass a tag into the " +
        s"one accessor, not a whole key):\n${unheaded.mkString("\n")}")
    val shared = sites.collect { case (Some(h), at) => h -> at }
      .groupBy(_._1).filter(_._2.size > 1).toSeq.sortBy(_._1)
      .map { case (h, ats) => s"$h: ${ats.map(_._2).mkString(", ")}" }
    assert(shared.isEmpty,
      "DfMemo serves whichever builder ran first for a key; give each key " +
        s"one accessor and call it:\n${shared.mkString("\n")}")
  }
}
