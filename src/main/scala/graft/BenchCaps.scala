package graft

/** Per-query budget-cap derivation from the committed BENCH_REF
  * record — extracted from Bench so the parsing is testable.
  *
  * Round-11 measurement-bug fix, disclosed in bench/OPTIMIZATION_r11.md: the
  * inline regex required `"name":<num>` with NO whitespace after the
  * colon, but BENCH_REF.json is produced by tools/bench_median.py
  * (python json.dump), which writes `"name": <num>` — so the
  * documented per-query cap gate silently parsed ZERO refs and only
  * the global cap ever applied. The regex now tolerates whitespace,
  * which ACTIVATES the per-query gate for the first time.
  *
  * With the gate live, the streaming multiplier is sized from the
  * committed wave evidence instead of the batch band: an induced host
  * I/O wave inflates trigger-bound legs ~4× over their quiet refs on
  * identical code (BENCH_IOWAVE_r11: s20 8.25 s vs ref 2.00; round 8
  * measured 6× before the tmpfs scratch), so s-legs use 6×ref where
  * batch legs keep 4×ref — both still clipped by the global cap, so
  * the q16-creep class (sub-second query to several seconds) and the
  * round-10 breach class (s13 13.9 s vs ref 3.9) both still fail.
  */
object BenchCaps {

  /** cap = max(min(globalCap, max(floor, mult·ref)), 1.6·ref) — the
    * committed formula with the round-11 streaming multiplier. Floors:
    * streaming refs > 1 s get 5 s (trigger-bound, wave-exposed),
    * sub-second streaming refs 3 s (the q16-creep class still
    * breaches), batch 2 s.
    */
  def capFor(name: String, ref: Double, globalCap: Double): Double = {
    val mult = if (name.startsWith("s")) 6.0 else 4.0
    val floor =
      if (name.startsWith("s")) { if (ref > 1.0) 5.0 else 3.0 } else 2.0
    math.max(math.min(globalCap, math.max(floor, mult * ref)), 1.6 * ref)
  }

  /** Parse the `"queries"` map of a BENCH_* record into per-query
    * caps. Tolerates both JSON spellings (`"q":1.2` from Bench's own
    * writer, `"q": 1.2` from python json.dump).
    */
  def parse(txt: String, globalCap: Double): Map[String, Double] = {
    val start = txt.indexOf("\"queries\"")
    if (start < 0) return Map.empty
    val qsPart = txt.drop(start)
    val qsEnd = qsPart.indexOf("}")
    "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9][0-9.Ee+-]*)".r
      .findAllMatchIn(qsPart.take(if (qsEnd > 0) qsEnd + 1 else qsPart.length))
      .map(m => m.group(1) -> capFor(m.group(1), m.group(2).toDouble, globalCap))
      .toMap
  }
}
