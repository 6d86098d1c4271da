package graft

import java.nio.file.{Files, Paths}

/** The committed idle-machine floor files (bench_floor.json,
  * ingest_floor.json, ann_floor.json) and the one rule that flags a
  * measured record against them. Each caller keeps only its own
  * key → factor table. */
object Floors {

  /** Flat name → number map of a floor file. The `_comment` key is prose
    * and skipped. Regex-based on purpose: no JSON library in the
    * dependency set, and the files are machine-written. */
  def parse(txt: String): Map[String, Double] =
    "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** `file` from the working directory, else from target/; no file means
    * no floors (nothing flags). */
  def load(file: String): Map[String, Double] =
    Seq(file, s"target/$file").view.map(Paths.get(_)).find(Files.exists(_))
      .map(p => parse(new String(Files.readAllBytes(p), "UTF-8")))
      .getOrElse(Map.empty)

  /** Time metrics flag HIGH past their per-key factor × floor, throughput
    * metrics flag LOW under half their own floor, and a key with no
    * metric or no committed floor never flags. */
  def suspects(metrics: Map[String, Double], floors: Map[String, Double],
      timeKeys: Seq[(String, Double)],
      throughputKeys: Seq[String] = Nil): Seq[String] = {
    def over(k: String, factor: Double) =
      (for (m <- metrics.get(k); f <- floors.get(k)) yield m > factor * f)
        .getOrElse(false)
    def under(k: String) =
      (for (m <- metrics.get(k); f <- floors.get(k)) yield m < f / 2.0)
        .getOrElse(false)
    timeKeys.collect { case (k, f) if over(k, f) => k } ++
      throughputKeys.filter(under)
  }
}
