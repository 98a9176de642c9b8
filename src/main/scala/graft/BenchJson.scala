package graft

import java.util.Locale

/** Locale-safe JSON fragments for [[Bench]]'s driver contract and host
  * forensics. Round 11 pinned the whole JVM with `Locale.setDefault
  * (Locale.ROOT)` to keep `%f` output valid JSON under comma-decimal
  * defaults — and the global mutation promptly bit Derby, which derives
  * a new database's locale from the JVM default and rejects ROOT
  * (XBM0X), silently excluding q73 from every bench pass until the
  * `territory=en_US` URL pin (BASELINE round-11 tail; the pin stays in
  * `queries/JdbcQ.scala` as defense-in-depth). VERDICT r11 item 7:
  * format each JSON number AT THE SITE with an explicit `Locale.ROOT`
  * instead, so no other library ever sees a mutated default.
  * BenchJsonSpec runs every builder under a comma-decimal default
  * locale and asserts the output parses as JSON.
  *
  * Raw `Double` concatenation (`"" + d` → `Double.toString`) is already
  * locale-independent per the Java spec; these helpers exist for the
  * fixed-precision `%.Nf` sites.
  */
object BenchJson {

  /** `%.pf`-formatted double, always '.'-decimal regardless of the JVM
    * default locale.
    */
  def num(d: Double, p: Int): String =
    String.format(Locale.ROOT, s"%.${p}f", Double.box(d))

  def calRecord(tag: String, tsMs: Long, stMs: Double, threads: Int,
                mtMs: Double, eff: Double, diskMs: Double): String =
    s"""{"tag":"$tag","ts_ms":$tsMs,"st_ms":${num(stMs, 1)},""" +
      s""""threads":$threads,"mt_ms":${num(mtMs, 1)},""" +
      s""""eff":${num(eff, 2)},"disk32mb_ms":${num(diskMs, 1)}}"""

  def sample(tsMs: Long, spinMs: Double, steal: Long, iow: Long): String =
    s"""[$tsMs,${num(spinMs, 1)},$steal,$iow]"""

  /** Compact host-weather summary embedded in BOTH graded JSON lines
    * (VERDICT r16 item 1): the r16 +29 s graded-total drift was
    * adjudicable only from builder-side passes because the steal/iowait
    * evidence lived in target/bench_host.json, which is wiped between
    * sessions. `steal`/`iowait` are /proc/stat jiffy totals over the
    * pass (watchdog samples every 5 s); `spin_med_ms`/`spin_max_ms` are
    * the fixed 50M-iteration watchdog spin (≈155 ms on an idle core);
    * `eff_start`/`eff_end` are the boundary calibrations' effective
    * parallelism (st·threads/mt). Calm pass ≈ steal < ~2k, spin_max <
    * 2× med; the r16 regression's signature was steal in the tens of
    * thousands with a broad spin inflation.
    */
  def hostSummary(steal: Long, iowait: Long, medSpin: Double,
                  maxSpin: Double, nSamples: Int, effStart: Double,
                  effEnd: Double): String =
    s"""{"steal":$steal,"iowait":$iowait,"spin_med_ms":${num(medSpin, 0)},""" +
      s""""spin_max_ms":${num(maxSpin, 0)},"wd_n":$nSamples,""" +
      s""""eff_start":${num(effStart, 1)},"eff_end":${num(effEnd, 1)}}"""

  /** One streaming-drain entry for the graded lines' `stream` object
    * (VERDICT r16 stretch 8; r17 item 6): input rows, drain wall, derived
    * rows/s, micro-batch count, and p50/p99 batch duration (ms) from the
    * drain's `recentProgress` — rows/s sizes a cluster, the percentiles
    * bound the freshness a production trigger could promise. -1 batch
    * percentiles mean no per-batch durations were captured.
    */
  def drainRecord(name: String, rows: Long, secs: Double,
                  nBatches: Int, p50Ms: Long, p99Ms: Long): String =
    s""""$name":{"rows":$rows,"sec":${num(secs, 2)},""" +
      s""""rows_per_s":${num(if (secs > 0) rows / secs else -1.0, 0)},""" +
      s""""n_batches":$nBatches,"batch_ms_p50":$p50Ms,"batch_ms_p99":$p99Ms}"""

  /** The graded lines' `codegen` field, with its trailing comma: generated
    * classes compiled over the measured queries and the ms spent compiling
    * them, as deltas of Spark's process-wide codegen counters. */
  def codegenRecord(compiles: Long, ms: Double): String =
    s""""codegen":{"compiles":$compiles,"ms":${num(ms, 0)}},"""

  /** The LAST stdout line of a full run — must fit the driver's ~2 KB
    * tail capture and parse standalone. `host` is [[hostSummary]]'s
    * object, so a graded artifact carries its own weather evidence.
    * `failed` counts the queries that threw: they are absent from `top`
    * and from `total`, so without the count a pass with failures would
    * read as a faster pass.
    */
  def compactTotal(total: Double, failed: Int,
                   top: Seq[(String, Double)], sfDir: String,
                   nQueries: Int, host: String, extra: String = ""): String = {
    val tops = top.map { case (k, v) => s""""$k":${num(v, 3)}""" }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${num(total, 3)},"failed":$failed,""" +
      s""""unit":"sec","queries":$tops,"sf":"$sfDir","n_queries":$nQueries,""" +
      s""""host":$host,$extra""" +
      """"queries_note":"top-20 of the full set by cost; complete map in """ +
      """target/bench.json, host forensics in target/bench_host.json"}"""
  }
}
