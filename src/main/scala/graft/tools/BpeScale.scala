package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.TrainingPrep

/** Production-vocabulary BPE scale probe. Not part of the driver
  * contract — a dev tool behind the bench_floor.json note: q147's
  * registry instance learns k=50 merges, but the declared scale story
  * is the driver-side histogram loop making production vocab sizes
  * tractable (learnBpeHist scaladoc), so this measures it instead of
  * asserting it: wall time of learnBpeHist at k=50 vs k=2048 over the
  * SAME sf dir (one corpus pass each; the merge loop is the delta),
  * plus the bit-equality law against the distributed loop for a merge
  * PREFIX at this corpus size (the full distributed k=2048 would be
  * 2048 vocabulary-wide jobs — the exact cost the histogram path
  * exists to avoid).
  *
  * Usage: sbt "runMain graft.tools.BpeScale [sfDir] [k] [prefix]"
  */
object BpeScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(2048)
    val prefix = args.lift(2).map(_.toInt).getOrElse(32)
    val spark = GraftSession("graft-bpe-scale")
    val docs = Tables.documents(spark, sfDir)

    // warm (JIT + page cache), then measure
    TrainingPrep.learnBpeHist(spark, docs, 5).foreach(_._2.unpersist())
    val ((m50, f50), t50) =
      timed(TrainingPrep.learnBpeHist(spark, docs, 50).get)
    f50.unpersist()
    val ((mK, fK), tK) = timed(TrainingPrep.learnBpeHist(spark, docs, k).get)
    fK.unpersist()
    val ((mDist, fDist), tDist) =
      timed(TrainingPrep.learnBpe(spark, docs, prefix))
    fDist.unpersist()
    val prefixEqual = mK.take(prefix) == mDist

    // The registry corpus's pre-token vocabulary exhausts its merge
    // space early (every word becomes one symbol), so k=2048 above
    // measures exhaustion, not per-merge cost. Phase 2 feeds the
    // driver-side loop a SYNTHETIC 100k-word Zipf histogram — the
    // vocabulary shape a real corpus has — and runs the full k merges.
    val rnd = new scala.util.Random(42)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val synthWords = (0 until 100000).map { r =>
      val len = 3 + rnd.nextInt(7)
      (0 until len).map(_ => letters(rnd.nextInt(26))).mkString
    }.distinct
    val synth = synthWords.zipWithIndex.map { case (w, r) =>
      (TrainingPrep.bpeWrapStr(w), math.max(1L, 1000000L / (r + 1)))
    }.toArray
    val ((mSynth, fSynth), tSynth) =
      timed(TrainingPrep.histLoop(spark, synth, k))
    fSynth.unpersist()

    println(s"""{"sf":"$sfDir","k50_sec":${f"$t50%.3f"},"k${k}_sec":${f"$tK%.3f"},"k${k}_merges":${mK.length},"ratio":${f"${tK / t50}%.2f"},"dist_prefix":$prefix,"dist_prefix_sec":${f"$tDist%.3f"},"prefix_bit_equal":$prefixEqual,"synth_vocab":${synth.length},"synth_k${k}_sec":${f"$tSynth%.3f"},"synth_merges":${mSynth.length}}""")
    require(prefixEqual,
      s"histogram merges diverged from the distributed loop in the first $prefix ranks")
    spark.stop()
  }
}
