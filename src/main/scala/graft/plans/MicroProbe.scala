package graft.plans

import java.nio.file.Files

/** Scratch micro-benchmark: raw throughput of the fused word-count
  * inner loop (`ByteSliceCounter.addTokens`, the loop TokenCountsExec
  * runs) over one corpus file, outside Spark — used to
  * attribute scan-stage task time between our loop and Spark plumbing.
  * Usage: runMain graft.plans.MicroProbe
  */
object MicroProbe {
  private def countOne(bytes: Array[Byte]): Int = {
    val counts = new ByteSliceCounter(1 << 15)
    counts.addTokens(bytes)
    counts.entryCount
  }

  def main(args: Array[String]): Unit = {
    val threads = if (args.nonEmpty) args(0).toInt else 1
    val dir = new java.io.File("target/bench_scratch/ref_corpus_12m")
    val files = Option(dir.listFiles)
      .getOrElse(sys.error(s"$dir missing — run graft.Bench once to create it"))
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val all = files.map(f => Files.readAllBytes(f.toPath))
    // report the bytes of the TIMED subset (1 file single-threaded,
    // `threads` files otherwise) — per-byte throughput read off this
    // probe must divide by what the loop actually scanned
    val timed = all.take(math.max(1, threads))
    println(s"files=${all.length} timed_files=${timed.length} " +
      s"timed_bytes=${timed.map(_.length.toLong).sum}")
    for (rep <- 1 to 8) {
      val t0 = System.nanoTime()
      if (threads <= 1) countOne(all(0))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
        val futs = all.take(threads).map(b =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            def call(): Int = countOne(b)
          }))
        futs.foreach(_.get())
        pool.shutdown()
      }
      val dt = (System.nanoTime() - t0) / 1e6
      println(f"[micro] rep $rep threads=$threads: $dt%.1f ms")
    }
  }
}
