package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark main. Prints ONE compact machine-readable JSON summary line to
  * stdout (fixed-size — see [[Bench.stdoutLine]]) and writes the FULL record,
  * including the per-query timing map, to `bench.json` in the working
  * directory, so the caller can recover per-query numbers even though the
  * stdout tail window is small (round-1 failure mode: sbt's `[info]` prefix
  * broke the parse — build.sbt now also sets `run / outputStrategy :=
  * StdoutOutput`; rounds 3 and 5: the per-query map outgrew the ~2.9 KB
  * stdout tail window, hence the split).
  *
  * Methodology (noise-proofing, see VERDICT.md rounds 1 and 6):
  *   - queries run in SORTED name order (a Map's hash order misattributed
  *     JVM/codegen warmup to whichever query happened to come first);
  *   - one untimed session warmup action before any timing;
  *   - reps are interleaved BY SWEEP, not per-query: the whole sorted
  *     inventory runs `SPARK_GRAFT_BENCH_REPS` times (default 2) and each
  *     query reports its MINIMUM across sweeps. Round 6's official record
  *     was inflated 7.3× by a minutes-long external-contention window that
  *     swallowed both back-to-back reps of each query it covered; with
  *     sweep interleaving a contention window must span the entire run
  *     twice to survive the min. Contention can only inflate, never
  *     deflate, so min-of-sweeps is the honest steady-state number;
  *   - a fixed CALIBRATION PROBE (the warmup aggregate) is timed before
  *     and after the sweeps and reported as `calib` in both outputs: a
  *     contaminated run is machine-evident (probe times blow past their
  *     ~0.1–0.3 s steady state) instead of needing cross-round forensics;
  *   - log level is ERROR and the JSON line is printed LAST after a flush,
  *     so a WARN flood (round 6: 2 KB of WindowExec warnings) can never
  *     push the line out of the driver's tail window;
  *   - failures are NOT swallowed: a failing query contributes no time,
  *     is reported under "errors", and the process exits nonzero;
  *   - CONTENTION REPAIR (round 12; round 11's driver-captured record read
  *     282 s against a true ~146 s because both sweeps crossed an external
  *     contention wave): after the sweeps, any query whose min blows past
  *     its previous bench.json record by more than the documented
  *     cross-round envelope (>3×+1 s — CLAUDE.md records ~2× swings with
  *     NO code change, vs the contaminated q59 at 88× history) gets
  *     targeted extra sweeps, and a hot post-run calibration probe with no
  *     history signal (e.g. all-new queries) triggers a full resweep.
  *     min() only ever improves, so repair can never fabricate a faster
  *     machine — it only removes inflation the interleaving missed. The
  *     extra-sweep count ships in both outputs ("extra") so a repaired
  *     record is self-identifying;
  *   - UNIFORM-INFLATION repair (round 14; round 13's driver-captured
  *     record read 362.9 s against a same-tree clean 179.3 because a
  *     43-minute contention window inflated EVERY query ~1.9× — below the
  *     3×+1 s per-query outlier rule, so targeted repair had nothing to
  *     target and the single allowed full resweep wasn't enough): the
  *     MEDIAN of per-query best/history ratios over the shared inventory
  *     is a contention detector the per-query rule can't be — individual
  *     queries swing ~2× cross-round with no code change, but the median
  *     across 240+ queries stays near 1.0 on a quiet machine. A median
  *     ratio past [[uniformHot]] triggers up to TWO extra full sweeps
  *     (per-query min, as always), and the FINAL median ratio ships in
  *     both outputs as `hist_ratio` together with `adj_total` =
  *     total / max(1, hist_ratio) — the probe-normalized number the
  *     round-13 adjudication had to reconstruct by hand. `value` stays
  *     the raw measured total; `adj_total` is the contention-divided
  *     estimate and is only meaningful when hist_ratio > 1 (a clean run
  *     has adj_total == value). The detector's baseline is the LAST
  *     bench.json in cwd — kept honest by the CLAUDE.md ritual's
  *     end-of-round clean Bench run: the driver's capture then always
  *     compares against a clean same-tree record, and even if a
  *     contaminated capture overwrites the file, the next clean run
  *     reads ratio < 1 (never triggers repair, contention can only
  *     inflate) and restores the clean baseline.
  *
  * INTERPRETATION LIMIT (round-14 ADVICE, recorded in BASELINE.md's
  * convention too): adj_total cannot distinguish ambient contention from
  * a genuine UNIFORM code/config regression — a session conf slowing
  * every query ~1.5× would ship a flattering adj_total with hist_ratio
  * attributing it to weather. The tiebreaker is the calibration probes:
  * they run the SAME fixed work every round, so hist_ratio > uniformHot
  * with CLEAN probes (≤ [[probeHot]]) is a regression signal, not
  * weather — trust adj_total only when the probes are hot alongside the
  * queries. Raw `value` always ships for exactly this audit.
  */
object Bench {
  private def jstr(s: String) = "\"" + s + "\""
  private def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  /** Steady-state probe ceiling: clean floor is ~0.1–0.3 s (BASELINE.md);
    * past this the run is contention-suspect. */
  val probeHot = 0.6

  /** Contention outlier vs the previous round's per-query record: 3× + 1 s
    * tolerates the measured no-code-change cross-round envelope (~2×, and
    * the +1 s keeps sub-second queries from flagging on absolute noise)
    * while catching real contamination (round 11: q59 26.4 s vs 0.3 s
    * history, q60 20.0 vs 0.5). */
  def isOutlier(t: Double, hist: Double): Boolean = t > hist * 3.0 + 1.0

  /** Uniform-inflation ceiling for the MEDIAN best/history ratio. Individual
    * queries swing ~2× cross-round with no code change (CLAUDE.md), but the
    * median across the full shared inventory stays near 1.0 on a quiet
    * machine (BASELINE.md round rows); 1.4 is far above median drift and
    * well below round 13's measured ~1.9 uniform contamination. */
  val uniformHot = 1.4

  /** Median of per-query best/history ratios over the shared inventory —
    * the uniform-contention detector. Sub-50 ms history entries are
    * excluded (pure timer noise); fewer than `minShared` shared queries
    * (fresh repo, garbled history) returns None and disables the detector
    * rather than flagging on a tiny sample. */
  def medianHistRatio(best: collection.Map[String, Double],
                      hist: collection.Map[String, Double],
                      minShared: Int = 20): Option[Double] = {
    val rs = best.toSeq.flatMap { case (n, t) =>
      hist.get(n).filter(_ >= 0.05).map(h => t / h) }
    if (rs.size < minShared) None else Some(rs.sorted.apply(rs.size / 2))
  }

  /** Parse the per-query map out of a previous bench.json (OUR OWN output
    * format — fullJson below). Empty on any shape problem: history is
    * advisory, a missing/garbled file only disables outlier detection. */
  def parseHistory(json: String): Map[String, Double] =
    """"queries":\{(.*?)\}""".r.findFirstMatchIn(json).map(_.group(1)) match {
      case None => Map.empty
      case Some(seg) =>
        """"([^"]+)":([0-9][0-9.]*)""".r.findAllMatchIn(seg)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }

  /** How many of the slowest queries ship in the stdout line's compact
    * `queries` map (round-16: PERF_r15 had NO per-query visibility because
    * the stdout line carried only the total — the full map lives in
    * bench.json, but the driver only tail-captures stdout). 15 entries at
    * ~45 bytes each ≈ 700 B keeps the line far inside the ~2.9 KB window. */
  val topN = 15

  /** The ONE stdout line the driver tail-captures. FIXED-SIZE by
    * construction: the per-query map is capped at the [[topN]] SLOWEST
    * queries (the full map lives only in bench.json), at most 8 error
    * NAMES (messages stay in bench.json), exactly two calibration floats.
    * Round-3 AND round-5 both lost the driver's bench record because the
    * unbounded per-query map grew the line past the ~2.9 KB tail window —
    * the cap is applied INSIDE this method so no caller can regrow it
    * (ContractSpec pins the byte bound). */
  def stdoutLine(total: Double, errorNames: Seq[String], reps: Int,
                 sf: String, nQueries: Int, calib: (Double, Double),
                 extra: Int = 0, histRatio: Double = 1.0,
                 topQueries: Seq[(String, Double)] = Nil): String = {
    val errJson = errorNames.take(8).map(jstr).mkString("[", ",", "]")
    val adj = total / math.max(1.0, histRatio)
    val qJson = topQueries.sortBy(-_._2).take(topN)
      .map { case (k, v) => jstr(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","adj_total":${fmt(adj)},"hist_ratio":${fmt(histRatio)},"n_queries":$nQueries,"n_errors":${errorNames.size},"errors":$errJson,"reps":$reps,"extra":$extra,"calib_s":[${fmt(calib._1)},${fmt(calib._2)}],"queries":$qJson,"sf":"$sf"}"""
  }

  /** Full record written to bench.json: everything stdoutLine has PLUS the
    * per-query timing map and full error messages. */
  def fullJson(total: Double, results: Seq[(String, Double)],
               errors: collection.Map[String, String], reps: Int, sf: String,
               calib: (Double, Double), extra: Int = 0,
               histRatio: Double = 1.0): String = {
    val qs = results.map { case (k, v) => jstr(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val adj = total / math.max(1.0, histRatio)
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","adj_total":${fmt(adj)},"hist_ratio":${fmt(histRatio)},"queries":$qs,"errors":$errJson,"reps":$reps,"extra":$extra,"calib_s":[${fmt(calib._1)},${fmt(calib._2)}],"sf":"$sf"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val spark = GraftSession()

    // Fixed probe, also the warmup: parquet scan + groupBy/shuffle. The
    // first (untimed) call absorbs executor spin-up, codegen, and footer
    // reads; subsequent calls are steady-state and any large pre/post
    // asymmetry or absolute blowup flags machine contention.
    def probe(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
      (System.nanoTime() - t0) / 1e9
    }
    probe() // untimed warmup
    val calibPre = probe()

    // previous round's per-query record, read BEFORE this run overwrites
    // the file — the outlier envelope for contention repair
    val hist =
      try parseHistory(new String(Files.readAllBytes(Paths.get("bench.json")),
        StandardCharsets.UTF_8))
      catch { case _: Throwable => Map.empty[String, Double] }

    val sorted = SparkEntry.queries.toVector.sortBy(_._1)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def runSweep(targets: Vector[String]): Unit = {
      val byName = sorted.toMap
      for (name <- targets; fn <- byName.get(name)) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          best(name) = best.get(name).fold(dt)(math.min(_, dt))
          errors.remove(name) // a transient failure repaired by a later sweep
        } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\n\r\t]", " ").take(200)
        }
      }
    }
    val names = sorted.map(_._1)
    for (_ <- 1 to reps) runSweep(names)
    var calibPost = probe()

    // Contention repair: targeted extra sweeps for history outliers first
    // (cheap — only the flagged queries), then FULL resweeps while either
    // the probe is hot or the median history ratio shows uniform inflation
    // (round 13's failure mode: every query ~1.9×, no per-query outlier).
    // Bounded — ≤3 targeted + ≤2 full extra passes — so a permanently
    // contended machine can't stall the driver; a still-hot record then
    // ships hist_ratio > 1 and the divided-out adj_total honestly.
    var extra = 0
    var targeted = 0
    var fullResweeps = 0
    var repairing = true
    while (repairing) {
      val out = names.filter(n =>
        best.get(n).zip(hist.get(n)).exists { case (t, h) => isOutlier(t, h) })
      val uniform = medianHistRatio(best, hist).exists(_ > uniformHot)
      if (out.nonEmpty && targeted < 3) {
        runSweep(out); targeted += 1; extra += 1; calibPost = probe()
      } else if ((calibPost > probeHot || uniform) && fullResweeps < 2) {
        runSweep(names); fullResweeps += 1; extra += 1; calibPost = probe()
      } else repairing = false
    }
    val histRatio = medianHistRatio(best, hist).getOrElse(1.0)

    val results = sorted.map(_._1).flatMap(n => best.get(n).map(n -> _))
    val calib = (calibPre, calibPost)
    val total = results.map(_._2).sum
    val full = fullJson(total, results, errors, reps, sfDir, calib, extra, histRatio)
    val line = stdoutLine(total, errors.keys.toSeq, reps, sfDir, results.size, calib, extra, histRatio, results)
    Files.write(Paths.get("bench.json"), (full + "\n").getBytes(StandardCharsets.UTF_8))
    if (errors.nonEmpty)
      System.err.println(s"bench: ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    spark.stop() // stop BEFORE the line: nothing may print after it
    System.out.flush()
    println(line)
    System.out.flush()
    if (errors.nonEmpty) sys.exit(1)
  }
}
