package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Byte-range text source with token-boundary realignment — the layout
  * `spark.read.text` cannot split: a file with no (or GB-apart)
  * newlines. The reference reads its input as a raw byte buffer and
  * hands each thread a byte range realigned to token boundaries
  * (/root/reference/src/main.c:96-108 whole-buffer read, 202-229 range
  * realignment); this source is that exact model as a DataSource V2
  * connector, so ANY byte layout scans in parallel regardless of
  * record delimiters.
  *
  * Split rule (each token owned by exactly one chunk):
  *  - a chunk starting at offset > 0 first skips forward past any
  *    token it lands inside (the previous chunk owns it);
  *  - a chunk ending mid-token reads past its nominal end to finish
  *    that token.
  * "Inside a token" = ASCII alphanumeric (the engine's token byte
  * class) OR a UTF-8 continuation byte — the latter so emitted string
  * rows never tear a multibyte character (multibyte chars are token
  * separators, but their bytes must stay together to form valid rows).
  *
  * Each chunk emits rows of at most `rowBytes` (1 MiB), split at
  * separator boundaries: downstream per-row operators see bounded
  * strings, never a 32 MiB (or 1 GiB) single row.
  *
  * Options: `chunkBytes` (widest split, default 16 MiB), `minChunks`
  * (lower bound on split count — the reference's num_threads knob maps
  * here); see [[ChunkedText.splits]].
  */
object ChunkedText {
  val SCHEMA: StructType =
    StructType(StructField("value", StringType, nullable = false) :: Nil)

  val DEFAULT_CHUNK_BYTES: Long = 16L << 20
  val ROW_BYTES: Int = 1 << 20

  /** Bytes a chunk boundary may not separate from their predecessor. */
  @inline def glued(b: Byte): Boolean =
    graft.functions.Tokens.isWordByte(b) || (b & 0xC0) == 0x80

  /** Split plan over files of lengths `lens`: `(file, start, end)` per
    * split. The input gets `n = max(minChunks, ceil(total / chunkBytes))`
    * splits, shared among the files in proportion to their lengths (at
    * least one per file, at most one per byte), and each file's splits
    * are of equal width to within one byte — so no split is wider than
    * `chunkBytes`, and no remainder split leaves slots idle in a second
    * wave of full-width tasks.
    */
  def splits(lens: Seq[Long], minChunks: Int, chunkBytes: Long): Seq[(Int, Long, Long)] = {
    val total = BigInt(math.max(1L, lens.sum))
    val n = (total + chunkBytes - 1) / chunkBytes max minChunks
    lens.zipWithIndex.flatMap { case (len, f) =>
      val k = ((BigInt(len) * n + total - 1) / total).toLong.min(len).max(1L)
      val (q, r) = (len / k, len % k)
      (0L until k).map(i => (f, i * q + math.min(i, r), (i + 1) * q + math.min(i + 1, r)))
    }
  }

  /** Regular files under `path` (a file, or one directory level —
    * mirroring spark.read.text's non-recursive listing), skipping
    * hidden/_ files.
    */
  def listFiles(path: String): Seq[java.io.File] = {
    val f = new java.io.File(path)
    val all =
      if (f.isFile) Seq(f)
      else
        Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
          .filter(_.isFile)
    all.filterNot(x => x.getName.startsWith("_") || x.getName.startsWith("."))
      .sortBy(_.getPath)
  }
}

class ChunkedTextSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChunkedText.SCHEMA

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ChunkedTextTable(properties)
}

class ChunkedTextTable(properties: util.Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"chunked_text(${properties.get("path")})"
  override def schema(): StructType = ChunkedText.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch with SupportsReportStatistics {
      private val path = Option(options.get("path")).getOrElse(
        throw new IllegalArgumentException("chunked-text: no path given"))
      private val minChunks = Option(options.get("minChunks")).map(_.toInt).getOrElse(1)
      private val chunkBytes = Option(options.get("chunkBytes")).map(_.toLong)
        .getOrElse(ChunkedText.DEFAULT_CHUNK_BYTES)

      override def build(): Scan = this
      override def readSchema(): StructType = ChunkedText.SCHEMA
      override def toBatch: Batch = this

      // real input size for the optimizer: without this a DSv2 relation
      // estimates defaultSizeInBytes (effectively infinite), defeating
      // every size-based plan choice downstream (broadcast thresholds,
      // TokenCounts' tiny-input DOP)
      override def estimateStatistics(): Statistics = new Statistics {
        private val bytes = ChunkedText.listFiles(path).map(_.length()).sum
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(bytes)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }

      override def planInputPartitions(): Array[InputPartition] = {
        require(chunkBytes > 0 && chunkBytes <= (1L << 30),
          s"chunked-text: chunkBytes must be in (0, 1 GiB], got $chunkBytes" +
            " (a chunk is materialized as one byte array)")
        if (!new java.io.File(path).exists())
          throw new IllegalArgumentException(
            s"chunked-text: path does not exist: $path")
        val files = ChunkedText.listFiles(path)
        val lens = files.map(_.length())
        ChunkedText.splits(lens, minChunks, chunkBytes).map { case (i, start, end) =>
          ChunkedTextPartition(files(i).getPath, start, end, lens(i))
        }.toArray
      }

      override def createReaderFactory(): PartitionReaderFactory =
        (p: InputPartition) =>
          new ChunkedTextReader(p.asInstanceOf[ChunkedTextPartition])
    }
}

case class ChunkedTextPartition(path: String, start: Long, end: Long,
    fileLen: Long) extends InputPartition

/** Reads one realigned byte range and serves it as <=1 MiB rows. */
class ChunkedTextReader(p: ChunkedTextPartition)
    extends PartitionReader[InternalRow] {
  import ChunkedText._

  private val raf = new java.io.RandomAccessFile(p.path, "r")

  /** First offset >= `from` whose byte is NOT glued (or EOF), scanned
    * through a 64 KiB buffer — one syscall per block, not per byte (a
    * no-newline file with long token runs is this source's whole point,
    * and a per-byte read() loop degrades to O(run) syscalls).
    */
  private def scanGlued(from: Long): Long = {
    raf.seek(from)
    val buf = new Array[Byte](64 << 10)
    var pos = from
    var n = raf.read(buf)
    while (n > 0) {
      var i = 0
      while (i < n) {
        if (!glued(buf(i))) return pos + i
        i += 1
      }
      pos += n
      n = raf.read(buf)
    }
    pos // EOF
  }

  // realign the start: skip forward past the token (or multibyte char)
  // the nominal offset lands inside — the previous chunk owns it
  private val begin: Long =
    if (p.start == 0L) 0L else scanGlued(p.start)

  // read [begin, p.end), then extend through any token straddling the
  // nominal end (this chunk owns it, matching the skip rule above)
  private val bytes: Array[Byte] = {
    if (begin >= p.fileLen) Array.emptyByteArray
    else {
      val base = new Array[Byte]((p.end - begin).toInt.max(0))
      raf.seek(begin)
      raf.readFully(base)
      val tailEnd =
        if (p.end < p.fileLen && base.nonEmpty) scanGlued(p.end) else p.end
      if (tailEnd <= p.end) base
      else {
        val tail = new Array[Byte]((tailEnd - p.end).toInt)
        raf.seek(p.end)
        raf.readFully(tail)
        base ++ tail
      }
    }
  }

  // row boundaries: <= ROW_BYTES slices, cut at the last separator
  // within range (a slice never ends mid-token/mid-char)
  private var off = 0
  private var current: UTF8String = _
  private val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)

  override def next(): Boolean = {
    if (off >= bytes.length) return false
    var until = math.min(off + ROW_BYTES, bytes.length)
    if (until < bytes.length) {
      while (until > off && glued(bytes(until))) until -= 1
      // a single >1 MiB token: take it whole rather than tear it
      if (until == off) {
        until = off + ROW_BYTES
        while (until < bytes.length && glued(bytes(until))) until += 1
      }
    }
    current = UTF8String.fromBytes(bytes, off, until - off)
    off = until
    true
  }

  override def get(): InternalRow = {
    row.update(0, current)
    row
  }

  override def close(): Unit = raf.close()
}
