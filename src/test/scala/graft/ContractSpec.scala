package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract guards that need no SparkSession: the bench stdout line
  * must stay inside the driver's tail-capture window no matter how the query
  * inventory grows (rounds 3 and 5 both lost the driver's bench record to
  * this), the counts quoted in README.md / CLAUDE.md must track the code
  * (drifted in rounds 2 and 4), and every main's session comes from
  * GraftSession (nine hand-built sessions had drifted apart in cores,
  * time zone, extensions and log level), every program stream starts
  * through StreamStart and every suite stops its streams through it, the
  * k-means step lives only in ops/Lloyd, the sign-hash kernel only in
  * plans/SignHash, the versioned-sink layout only in
  * streaming/VersionedSink, the idle-timer protocol only in
  * streaming/KeyedState, and s1's batch body runs its one job without
  * per-batch closure cleaning.
  */
class ContractSpec extends AnyFunSuite {

  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)

  test("Bench stdout line stays under 2.2 KB regardless of query and error count") {
    // Worst realistic case: a huge inventory AND a mass failure AND long
    // query names in the top-N map. The line carries at most Bench.topN
    // per-query entries (capped INSIDE stdoutLine — the full map lives only
    // in bench.json) and at most 8 error names, so no axis can grow it
    // past the driver's ~2.9 KB tail window.
    val manyErrors = (1 to 500).map(i => f"q$i%03d_some_very_long_query_name")
    val manyQueries = (1 to 500).map(i =>
      f"q$i%03d_some_very_long_query_name" -> (i * 123.4567))
    val line = Bench.stdoutLine(
      total = 123456.7891, errorNames = manyErrors, reps = 2,
      sf = "/root/testdata/sf0.1", nQueries = 1000, calib = (123.4567, 123.4567),
      extra = 3, histRatio = 1.8765, topQueries = manyQueries)
    assert(line.getBytes(StandardCharsets.UTF_8).length < 2200,
      s"bench stdout line is ${line.length} bytes: $line")
    assert(!line.contains("\n"))
    // the map keeps exactly the topN SLOWEST entries, sorted by time desc
    assert(""""q500_some_very_long_query_name":61728.3500""".r
      .findFirstIn(line).nonEmpty, line)
    assert(raw""""q\d+_some_very_long_query_name":\d""".r
      .findAllIn(line).size == Bench.topN, line) // error names carry no ':'
    assert(!line.contains(""""q485_""")) // slot topN+1 must be dropped
    // and the healthy-path line for the real inventory stays small: the
    // real 254-query inventory contributes exactly topN entries
    val realNames = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
      .map { case (n, i) => n -> (0.1 + i * 0.01) }
    val healthy = Bench.stdoutLine(30.74, Nil, 2, "/root/testdata/sf0.1",
      SparkEntry.queries.size, calib = (0.1234, 0.1234), topQueries = realNames)
    assert(healthy.getBytes(StandardCharsets.UTF_8).length < 1100, healthy)
    // adj_total divides out hist_ratio only when ratio > 1 (contention can
    // inflate, never deflate — a faster-than-history run is code, not weather)
    assert(healthy.contains(""""adj_total":30.7400"""), healthy)
    val hot = Bench.stdoutLine(362.9, Nil, 2, "sf", 250, (0.89, 0.24),
      extra = 2, histRatio = 2.0)
    assert(hot.contains(""""adj_total":181.4500""") && hot.contains(""""hist_ratio":2.0000"""), hot)
    val fast = Bench.stdoutLine(100.0, Nil, 2, "sf", 250, (0.1, 0.1), histRatio = 0.8)
    assert(fast.contains(""""adj_total":100.0000"""), fast)
  }

  test("Bench uniform-inflation detector: median ratio flags round-13 weather, not envelope noise") {
    def mk(ts: Seq[Double]): Map[String, Double] =
      ts.zipWithIndex.map { case (t, i) => f"q$i%03d" -> t }.toMap
    val hist = mk(Vector.tabulate(50)(i => 0.2 + i * 0.1))
    // round-13 shape: EVERY query ~1.9× its history — no per-query outlier
    // (1.9 < 3×+1s), but the median ratio nails it
    val hot = hist.map { case (k, v) => k -> v * 1.9 }
    assert(!hot.exists { case (k, t) => Bench.isOutlier(t, hist(k)) })
    assert(Bench.medianHistRatio(hot, hist).exists(r => r > Bench.uniformHot && r < 2.0))
    // clean run with the documented per-query envelope (a few queries swing
    // 2× each way) keeps the median near 1.0 — no false repair
    val clean = hist.map { case (k, v) =>
      val i = k.drop(1).toInt
      k -> (if (i % 17 == 0) v * 2.0 else if (i % 13 == 0) v * 0.5 else v * 1.05)
    }
    assert(Bench.medianHistRatio(clean, hist).exists(_ < Bench.uniformHot))
    // tiny shared sample (fresh repo / garbled history) disables the detector
    assert(Bench.medianHistRatio(hot.take(5), hist).isEmpty)
    // sub-50ms history entries are timer noise, excluded from the sample
    val noisy = Map("a" -> 0.5, "b" -> 0.6)
    assert(Bench.medianHistRatio(noisy, Map("a" -> 0.01, "b" -> 0.02), minShared = 1).isEmpty)
  }

  test("Bench contention repair: history round-trips and the outlier rule is calibrated") {
    // parseHistory reads back exactly what fullJson wrote — the repair
    // envelope survives the file round-trip, including an errors map whose
    // quoted messages must not bleed into the queries segment
    val full = Bench.fullJson(
      total = 12.3456,
      results = Seq("q01_scan_project" -> 0.1234, "q78_pipeline_counts" -> 5.5678),
      errors = scala.collection.mutable.LinkedHashMap(
        "q99_cooccur_lift" -> "boom: 1.5 things"),
      reps = 2, sf = "/root/testdata/sf0.1", calib = (0.1, 0.2), extra = 1)
    val hist = Bench.parseHistory(full)
    assert(hist == Map("q01_scan_project" -> 0.1234, "q78_pipeline_counts" -> 5.5678))
    assert(Bench.parseHistory("not json at all").isEmpty)
    // outlier rule: flags the round-11 contamination (q59 26.4 s vs 0.3 s
    // history, q60 20.0 vs 0.5) but NOT the documented no-code-change
    // cross-round envelope (q56: 3.8 s against a 1.7 s floor)
    assert(Bench.isOutlier(26.4, 0.3))
    assert(Bench.isOutlier(20.0, 0.5))
    assert(!Bench.isOutlier(3.8, 1.7))
    assert(!Bench.isOutlier(2.7, 1.7))
    // sub-second absolute noise never flags
    assert(!Bench.isOutlier(1.2, 0.1))
  }

  test("README.md and CLAUDE.md query counts match SparkEntry.queries.size") {
    val n = SparkEntry.queries.size
    val patterns = Seq(
      raw"(\d+) declared".r,
      raw"(\d+) deterministic".r,
      raw"\((\d+) queries\)".r,
      raw"\(q01–q(\d+)\)".r, // the full-inventory claim; per-file ranges like "q01–q30:" are exempt
      raw"expect (\d+) pass".r)
    for (f <- Seq("README.md", "CLAUDE.md")) {
      val text = read(f)
      for (p <- patterns; m <- p.findAllMatchIn(text))
        assert(m.group(1).toInt == n,
          s"$f quotes '${m.matched}' but SparkEntry declares $n queries")
    }
    // the inventory is dense q01..qNN: the highest declared number is the size
    val maxQ = SparkEntry.queries.keys.map(_.drop(1).takeWhile(_.isDigit).toInt).max
    assert(maxQ == n, s"query names not dense: max q$maxQ vs $n declared")
  }

  test("program mains build their session only through GraftSession") {
    val owner = Paths.get("src/main/scala/graft/GraftSession.scala")
    assert(Files.exists(owner))
    val others = Files.walk(Paths.get("src/main/scala")).iterator().asScala.toVector
      .filter(p => p.toString.endsWith(".scala") && p != owner)
    // the builder, the cpus env var and any local[N] master literal each
    // live in one place, so session confs cannot drift apart again
    val tokens = Seq("SparkSession.builder", "SPARK_GRAFT_CPUS", "\"local[")
    val hits = for (p <- others; t <- tokens if read(p.toString).contains(t)) yield s"$p: $t"
    assert(hits.isEmpty, s"session policy outside GraftSession:\n  ${hits.mkString("\n  ")}")
  }

  test("program streams start only through StreamStart, the one owner of the manager conf") {
    // without libhadoop, a stream started any other way writes its offset
    // and commit logs through forking Hadoop local FS calls (20 per s1 batch)
    val owner = Paths.get("src/main/scala/graft/streaming/StreamStart.scala")
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala.toVector
      .filter(p => p.toString.endsWith(".scala") && p != owner).map(p => p -> read(p.toString))
    val keyHits = for ((p, src) <- sources
      if src.contains("checkpointFileManagerClass") ||
        src.contains("STREAMING_CHECKPOINT_FILE_MANAGER_CLASS")) yield s"$p: manager conf"
    /** The method names chained onto `writeStream` at `from`. */
    def chain(src: String, from: Int): Seq[String] = {
      var i = from
      def skipSpace(): Unit = while (i < src.length && src(i).isWhitespace) i += 1
      def skipGroup(): Unit = {
        val (open, close) = if (src(i) == '(') ('(', ')') else ('{', '}')
        var depth = 0
        do {
          if (src(i) == open) depth += 1 else if (src(i) == close) depth -= 1
          i += 1
        } while (depth > 0 && i < src.length)
      }
      val names = Seq.newBuilder[String]
      skipSpace()
      while (i < src.length && src(i) == '.') {
        val start = i + 1
        i = start
        while (i < src.length && src(i).isLetterOrDigit) i += 1
        names += src.substring(start, i)
        skipSpace()
        while (i < src.length && (src(i) == '(' || src(i) == '{')) { skipGroup(); skipSpace() }
      }
      names.result()
    }
    val startHits = for {
      (p, src) <- sources
      m <- raw"\bwriteStream\b".r.findAllMatchIn(src)
      if chain(src, m.end).exists(n => n == "start" || n == "toTable")
    } yield s"$p:${src.take(m.start).count(_ == '\n') + 1}: writeStream…start()"
    val hits = keyHits ++ startHits
    assert(hits.isEmpty,
      s"${hits.size} stream start(s) bypass StreamStart:\n  ${hits.mkString("\n  ")}")
    assert(Files.exists(owner))
  }

  test("the Lloyd update and encoded argmin key live only in ops/Lloyd.scala") {
    // copies of the integer-grid k-means step drift apart (six update
    // bodies and seven argmin keys had accumulated); the DuckDB oracles
    // and s35's batch twin rely on one arithmetic
    val owner = Paths.get("src/main/scala/graft/ops/Lloyd.scala")
    val update = java.util.regex.Pattern.quote("floor(col(s\"sx")
    val argminKey = raw"""\* lit\([^()]*\) \+ col\("j"\)"""
    val hits = for {
      p <- Files.walk(Paths.get("src/main/scala")).iterator().asScala.toVector
      if p.toString.endsWith(".scala") && p != owner
      (line, n) <- read(p.toString).split("\n").zipWithIndex
      (re, what) <- Seq(update -> "Lloyd update", argminKey -> "encoded argmin key")
      if re.r.findFirstIn(line).isDefined
    } yield s"$p:${n + 1}: $what"
    assert(hits.isEmpty, s"${hits.size} k-means step(s) outside Lloyd:\n  ${hits.mkString("\n  ")}")
    assert(Files.exists(owner))
  }

  test("the sign-hash kernel lives only in plans/SignHash.scala") {
    // six hyperplane families, seven sign folds and five 32-bit sign-word
    // builders had been copied across the LSH/binary-code queries and
    // ScaleCurve; the DuckDB oracle SQL strings stay independent replays
    val owner = Paths.get("src/main/scala/graft/plans/SignHash.scala")
    val kernel = Seq(
      java.util.regex.Pattern.quote("2654435761L) % 97") -> "hyperplane literal",
      raw"% 97 - 48\)\.cast" -> "hyperplane family",
      raw"> 0, (lit\()?1L << " -> "sign-bucket fold",
      raw"CASE WHEN element_at\(.*\) > 0 THEN .* ELSE 0L END" -> "sign-word builder")
    val hits = for {
      p <- Files.walk(Paths.get("src/main/scala")).iterator().asScala.toVector
      if p.toString.endsWith(".scala") && p != owner
      (line, n) <- read(p.toString).split("\n").zipWithIndex
      (re, what) <- kernel
      if re.r.findFirstIn(line).isDefined
    } yield s"$p:${n + 1}: $what"
    assert(hits.isEmpty, s"${hits.size} sign-hash copies outside SignHash:\n  ${hits.mkString("\n  ")}")
    assert(Files.exists(owner))
  }

  test("the versioned-sink layout lives only in streaming/VersionedSink.scala") {
    // 16 snapshot steps and 3 ingest logs had each spelled out the version
    // paths, the read-below rule and the prune; a step that builds its own
    // path can read its own half-written output on replay
    val owner = Paths.get("src/main/scala/graft/streaming/VersionedSink.scala")
    val layout = raw"""/v=|"v="|/b=|"b="""".r
    val hits = for {
      p <- Files.walk(Paths.get("src/main/scala")).iterator().asScala.toVector
      if p.toString.endsWith(".scala") && p != owner
      (line, n) <- read(p.toString).split("\n").zipWithIndex
      if !Seq("//", "*", "/*").exists(line.trim.startsWith)
      if layout.findFirstIn(line).isDefined
    } yield s"$p:${n + 1}: ${line.trim}"
    assert(hits.isEmpty,
      s"${hits.size} version path(s) outside VersionedSink:\n  ${hits.mkString("\n  ")}")
    assert(Files.exists(owner))
  }

  test("the idle-timer protocol lives only in streaming/KeyedState.scala") {
    // seven GroupState demos had each spelled out the timed-out removal,
    // the event-time timeout and the one-hour timer; a copy that sets its
    // timer from another field or horizon evicts keys the others keep
    val owner = Paths.get("src/main/scala/graft/streaming/KeyedState.scala")
    val hits = for {
      p <- Files.walk(Paths.get("src/main/scala")).iterator().asScala.toVector
      if p.toString.endsWith(".scala") && p != owner
      (line, n) <- read(p.toString).split("\n").zipWithIndex
      if !Seq("//", "*", "/*").exists(line.trim.startsWith)
      token <- Seq("hasTimedOut", "setTimeoutTimestamp", "EventTimeTimeout")
      if line.contains(token)
    } yield s"$p:${n + 1}: $token"
    assert(hits.isEmpty,
      s"${hits.size} idle-timer step(s) outside KeyedState:\n  ${hits.mkString("\n  ")}")
    assert(Files.exists(owner))
  }

  test("suites stop streaming queries only through StreamStart.stop") {
    // StreamingQuery.stop() returns while the query's cancelled tasks still
    // run, and a write task that finishes its row re-creates the output
    // directory a test then deletes; StreamStart.stop waits them out
    val hits = for {
      p <- Files.walk(Paths.get("src/test/scala")).iterator().asScala.toVector
      if p.toString.endsWith(".scala")
      (line, n) <- read(p.toString).split("\n").zipWithIndex
      if !line.trim.startsWith("//") && !line.trim.startsWith("*")
      m <- raw"\b(\w+)\.stop\(\)".r.findAllMatchIn(line)
      if !Set("spark", "session")(m.group(1))
    } yield s"$p:${n + 1}: ${m.group(1)}.stop()"
    assert(hits.isEmpty,
      s"${hits.size} plain stop(s) of a streaming query:\n  ${hits.mkString("\n  ")}")
  }

  test("s1's batch body cleans no lambda and re-plans no batch") {
    // per batch, `mapPartitions(…).collect()` had Spark's ClosureCleaner
    // parse the class of each of three lambdas (Demos$ is 114 KB), and
    // `queryExecution.toRdd` re-planned the LogicalRDD the engine hands over
    val path = "src/main/scala/graft/streaming/Demos.scala"
    val lines = read(path).split("\n")
    val start = lines.indexWhere(_.contains("def s1BroadcastRules("))
    assert(start >= 0, s"$path holds no s1BroadcastRules")
    val next = lines.indexWhere(raw"^  (/\*\*|def |private )".r.findFirstIn(_).isDefined, start + 1)
    val hits = for {
      n <- start until (if (next < 0) lines.length else next)
      token <- Seq("mapPartitions", ".collect()", "queryExecution.toRdd")
      if lines(n).contains(token)
    } yield s"$path:${n + 1}: $token"
    assert(hits.isEmpty, s"s1BroadcastRules runs per-batch lambda jobs or re-plans:\n  ${hits.mkString("\n  ")}")
  }

  test("README.md and CLAUDE.md test/suite counts match the test tree") {
    val testDir = Paths.get("src/test/scala/graft")
    val files = Files.list(testDir).iterator().asScala.toVector
      .filter(_.getFileName.toString.endsWith("Spec.scala"))
    val nSuites = files.size
    val nTests = files.map { p: Path =>
      raw"""(?m)^\s+test\(""".r.findAllIn(read(p.toString)).size
    }.sum
    for (f <- Seq("README.md", "CLAUDE.md")) {
      val text = read(f)
      raw"(\d+) tests".r.findAllMatchIn(text).foreach(m =>
        assert(m.group(1).toInt == nTests,
          s"$f quotes '${m.matched}' but the tree has $nTests test(...) calls"))
      raw"(\d+) suites".r.findAllMatchIn(text).foreach(m =>
        assert(m.group(1).toInt == nSuites,
          s"$f quotes '${m.matched}' but the tree has $nSuites *Spec.scala suites"))
    }
  }
}
