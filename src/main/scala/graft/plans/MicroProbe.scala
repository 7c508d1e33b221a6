package graft.plans

import java.nio.file.Files

import graft.functions.Tokens

/** Layer probe of the word count's map-side kernel, outside Spark: over
  * one corpus, single-threaded, the MB/s of the tokenize-only loop
  * (`Tokens.next`, nothing counted) next to the counting loop
  * (`ByteSliceCounter.addTokens`, the loop TokenCountsExec runs, one
  * counter per file as one per task). The gap between the two is the
  * table's share of a TokenCounts task.
  * Usage: runMain graft.plans.MicroProbe [file-or-dir]
  * (default: workload A's corpus under target/scratch, which graft.Bench
  * writes). Eight reps, one line each.
  */
object MicroProbe {
  private def scanOnly(b: Array[Byte]): Long = {
    var n = 0L
    var t = Tokens.next(b, 0, b.length)
    while (t >= 0) { n += 1; t = Tokens.next(b, Tokens.end(t), b.length) }
    n
  }

  private def countOnly(b: Array[Byte]): Long = {
    val counts = new ByteSliceCounter(1 << 15)
    counts.addTokens(b, 0, b.length)
    counts.entryCount
  }

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(graft.Bench.refCorpusPath)
    val files = graft.sources.ChunkedText.listFiles(path)
    require(files.nonEmpty,
      s"$path: no input files (graft.Bench writes the default corpus)")
    val all = files.map(f => Files.readAllBytes(f.toPath))
    val mb = all.map(_.length.toLong).sum / 1e6
    println(f"[micro] $path: ${all.length} files, $mb%.1f MB")
    def mbPerS(loop: Array[Byte] => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = all.map(loop).sum
      (mb / ((System.nanoTime() - t0) / 1e9), n)
    }
    for (rep <- 1 to 8) {
      val (scan, tokens) = mbPerS(scanOnly)
      val (count, words) = mbPerS(countOnly)
      println(f"[micro] rep $rep: tokenize $scan%.0f MB/s, count $count%.0f MB/s " +
        s"($tokens tokens, $words words summed over files)")
    }
  }
}
