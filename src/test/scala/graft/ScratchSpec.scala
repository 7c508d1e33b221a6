package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, TimeUnit}

import org.apache.commons.io.FileUtils
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The write-once rule every scratch artifact goes through: a failed
  * write leaves nothing, racing writers publish one copy, changed inputs
  * replace the stale artifact and what was derived from it, and roots of
  * dead JVMs are swept. */
class ScratchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root = Files.createTempDirectory("graft_scratch_spec").toFile

  override def afterAll(): Unit = FileUtils.deleteDirectory(root)

  private def put(f: File, text: String): Unit =
    FileUtils.writeStringToFile(f, text, UTF_8)

  /** A `write` that makes its path a file holding `text`. */
  private def writeFile(text: String): String => Unit = p => put(new File(p), text)

  private def read(f: File): String = FileUtils.readFileToString(f, UTF_8)

  /** Entries of `dir` (hidden temps included), sorted. */
  private def entries(dir: File): Seq[String] = dir.list().toSeq.sorted

  test("a write that fails part-way leaves nothing; the next call rebuilds") {
    val dir = new File(root, "a")
    val key = Scratch.sig("a")
    val err = intercept[IllegalStateException] {
      Scratch.once("art", key, dir) { p =>
        put(new File(p, "part-0"), "half")
        throw new IllegalStateException("killed mid-write")
      }
    }
    assert(err.getMessage == "killed mid-write")
    assert(entries(dir).isEmpty, "the failed write's temp or output survived")
    var writes = 0
    val p = Scratch.once("art", key, dir) { p =>
      writes += 1
      put(new File(p, "part-0"), "full")
    }
    assert(p == new File(dir, s"art_$key").getPath)
    assert(read(new File(p, "part-0")) == "full")
    assert(Scratch.once("art", key, dir)(_ => writes += 1) == p)
    assert(writes == 1, "a published artifact was written again")
  }

  test("a file artifact publishes once and is reused") {
    val dir = new File(root, "f")
    val key = Scratch.sig("f")
    val p = Scratch.once("bin", key, dir)(writeFile("v1"))
    assert(Scratch.once("bin", key, dir)(writeFile("v2")) == p)
    assert(read(new File(p)) == "v1")
    assert(entries(dir) == Seq(s"bin_$key"))
  }

  test("two writers racing on one key publish one copy and leave no temp") {
    val dir = new File(root, "b")
    val key = Scratch.sig("b")
    val barrier = new CyclicBarrier(2)
    val paths = new Array[String](2)
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        paths(i) = Scratch.once("race", key, dir) { p =>
          put(new File(p, "who"), s"writer $i")
          // both temps are complete before either publishes
          barrier.await(30, TimeUnit.SECONDS)
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(paths.toSeq == Seq.fill(2)(new File(dir, s"race_$key").getPath))
    assert(entries(dir) == Seq(s"race_$key"))
    assert(entries(new File(paths(0))) == Seq("who"))
    assert(Set("writer 0", "writer 1").contains(read(new File(paths(0), "who"))))
  }

  test("a changed input publishes a new path and drops the stale one with its derivations") {
    val dir = new File(root, "c")
    val input = new File(root, "c_input")
    put(input, "rows v1")
    val k1 = Scratch.sig(input)
    val p1 = Scratch.once("corpus", k1, dir)(writeFile("from v1"))
    val d1 = Scratch.derived(p1, "pairs")(writeFile("pairs of v1"))
    val other = Scratch.once("corpus_y", Scratch.sig("y"), dir)(writeFile("other name"))
    assert(Scratch.sig(input) == k1, "an unchanged input changed its sig")
    put(input, "rows v2, regenerated")
    val k2 = Scratch.sig(input)
    assert(k2 != k1)
    val p2 = Scratch.once("corpus", k2, dir)(writeFile("from v2"))
    assert(p2 != p1 && read(new File(p2)) == "from v2")
    assert(!new File(p1).exists() && !new File(d1).exists(),
      "the stale artifact or its derived sibling survived")
    assert(new File(other).exists(), "an artifact of another name was swept")
    assert(entries(dir) == Seq(new File(other).getName, s"corpus_$k2").sorted)
  }

  test("per-JVM roots and temps of dead JVMs are swept, live ones kept") {
    val dir = new File(root, "d")
    val dead = 999999999L // above any kernel's pid_max
    assert(!ProcessHandle.of(dead).isPresent)
    val own = ProcessHandle.current().pid()
    put(new File(dir, s"jvm-$dead/ivf_index_0123456789abcdef/part-0"), "x")
    put(new File(dir, s".corpus_0123456789abcdef.tmp-$dead-1/part-0"), "x")
    put(new File(dir, s"jvm-$own/kept"), "x")
    put(new File(dir, s".corpus_0123456789abcdef.tmp-$own-1/part-0"), "x")
    put(new File(dir, "corpus_0123456789abcdef/part-0"), "x")
    Scratch.sweepDead(dir)
    assert(entries(dir) == Seq(s".corpus_0123456789abcdef.tmp-$own-1",
      "corpus_0123456789abcdef", s"jvm-$own").sorted)
  }
}
