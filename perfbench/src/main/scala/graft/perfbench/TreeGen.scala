package graft.perfbench

import java.io.{File, FileOutputStream}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** One record the sink must receive: topic, path, offset, value length
  * and the value's xxhash64 (Spark's `xxhash64`, seed 42). */
final case class Rec(topic: String, path: String, offset: Long, length: Int, digest: Long)

object Rec {
  implicit val ordering: Ordering[Rec] =
    Ordering.by((r: Rec) => (r.topic, r.path, r.offset, r.length, r.digest))

  def digest(b: Array[Byte], from: Int = 0, len: Int = -1): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + from,
      if (len < 0) b.length - from else len, 42L)
}

/** One committed state row the program must hold. */
final case class StateRow(path: String, size: Long, timestamp: Long, hash: String)

/** A run of bytes the generator wrote at `offset`. Small segments keep
  * their bytes (the line-split model and in-place rewrites need them);
  * large ones keep only their digest. */
final class Segment(val offset: Long, val length: Int, val digest: Long, val bytes: Array[Byte])

/** What the generator knows about one file it wrote. */
final class GenFile(val path: String, val topic: String, val tail: Boolean) {
  var exists = false
  var mtime = 0L
  var size = 0L
  val segments = mutable.ArrayBuffer.empty[Segment]
  private var sha = MessageDigest.getInstance("SHA-256")
  /** False once bytes below the committed size were rewritten. */
  var prefixIntact = true
  var committed: Option[StateRow] = None

  def shaHex: String =
    sha.clone().asInstanceOf[MessageDigest].digest().map("%02x".format(_)).mkString

  def append(seg: Array[Byte], keepBytes: Boolean): Unit = {
    segments += new Segment(size, seg.length, Rec.digest(seg), if (keepBytes) seg else null)
    sha.update(seg)
    size += seg.length
  }

  def replace(content: Array[Byte]): Unit = {
    segments.clear()
    sha = MessageDigest.getInstance("SHA-256")
    size = 0L
    prefixIntact = false
    append(content, keepBytes = true)
  }

  def content: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(size.toInt)
    segments.foreach { s =>
      require(s.bytes != null, s"$path: content of a large segment is not kept")
      out.write(s.bytes)
    }
    out.toByteArray
  }

  def current: StateRow = StateRow(path, size, mtime, shaHex)
}

/** The ingest workloads' input generator: single-threaded, seeded, and
  * independent of the program. It writes the monitored tree, sets
  * every file's mtime explicitly (so a same-size rewrite is always
  * visible, whatever the filesystem's timestamp granularity) and keeps
  * the ledger the checker compares against: the records each poll must
  * deliver and the state each poll must commit.
  *
  * The expected records follow the connector's documented contract:
  * update-mode files re-emit whole on any change, tail-mode files emit
  * the appended bytes (nothing on a shrink or same-size rewrite), an
  * mtime-only touch emits one empty record, a delete emits nothing and
  * leaves the state row. Bodies above the inline cap are emitted in
  * chunks of at most `maxRecordBytes`, and at most `maxPollRecords`
  * (the cap given to [[expectPoll]]) records are served per poll, in (path, offset, topic) order, the
  * rest carried to the next poll. */
final class TreeGen(
    root: File,
    seed: Long,
    lineSplit: Boolean,
    inlineCap: Long,
    maxRecordBytes: Int) {

  private val rng = new SplittableRandom(seed)
  /** Every write gets a strictly later mtime, from a fixed epoch. */
  private var clock = 1760000000000L
  private def tick(): Long = { clock += 1000 + rng.nextInt(4000); clock }

  val files = mutable.ArrayBuffer.empty[GenFile]
  private var nextId = 0
  private var pending = Vector.empty[Rec]
  private var polls = 0
  /** Bytes written (generator throughput, reported off the clock). */
  var bytesWritten = 0L

  private val ledger = new java.io.PrintWriter(new File(root, "ledger.tsv"))

  def dir(name: String): File = { val d = new File(root, s"in/$name"); d.mkdirs(); d }

  // ---- content ----

  private val hex = "0123456789abcdef".getBytes("US-ASCII")
  private val words = Array("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima").map(_.getBytes("US-ASCII"))

  private def digits(out: java.io.ByteArrayOutputStream, n: Int, width: Int): Unit = {
    var d = 1; var i = 1
    while (i < width) { d *= 10; i += 1 }
    var v = n
    while (d > 0) { out.write('0' + (v / d) % 10); d /= 10 }
  }

  /** One CSV-like line: id,user,amount,label,hex. */
  private def csvLine(out: java.io.ByteArrayOutputStream): Unit = {
    digits(out, rng.nextInt(1000000), 6); out.write(',')
    digits(out, rng.nextInt(10000), 4); out.write(',')
    digits(out, rng.nextInt(100000), 5); out.write('.')
    digits(out, rng.nextInt(100), 2); out.write(',')
    out.write(words(rng.nextInt(words.length))); out.write(',')
    var i = 0
    val n = 8 + rng.nextInt(24)
    while (i < n) { out.write(hex(rng.nextInt(16))); i += 1 }
    out.write('\n')
  }

  def csvLines(n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(n * 48)
    (0 until n).foreach(_ => csvLine(out))
    out.toByteArray
  }

  /** Log text of exactly `len` bytes (lines may cross the end). */
  def logBytes(len: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(len + 256)
    while (out.size() < len) {
      digits(out, (clock / 1000 % 1000000000L).toInt + rng.nextInt(1000), 9)
      out.write(' ')
      out.write(words(rng.nextInt(words.length)))
      out.write(" req=".getBytes("US-ASCII"))
      var i = 0
      while (i < 16) { out.write(hex(rng.nextInt(16))); i += 1 }
      out.write(" bytes=".getBytes("US-ASCII"))
      digits(out, rng.nextInt(100000000), 8)
      out.write(" status=2".getBytes("US-ASCII"))
      digits(out, rng.nextInt(100), 2)
      out.write('\n')
    }
    java.util.Arrays.copyOf(out.toByteArray, len)
  }

  // ---- file operations (each sets the mtime explicitly) ----

  private def touchMtime(f: GenFile): Unit = {
    f.mtime = tick()
    if (!new File(f.path).setLastModified(f.mtime))
      throw new java.io.IOException(s"cannot set mtime of ${f.path}")
  }

  private def write(f: GenFile, bytes: Array[Byte], append: Boolean): Unit = {
    val os = new FileOutputStream(f.path, append)
    try os.write(bytes) finally os.close()
    bytesWritten += bytes.length
  }

  def create(d: File, topic: String, tail: Boolean, ext: String, bytes: Array[Byte]): GenFile = {
    val f = new GenFile(new File(d, f"f$nextId%06d.$ext").getAbsolutePath, topic, tail)
    nextId += 1
    write(f, bytes, append = false)
    f.exists = true
    f.append(bytes, keepBytes = bytes.length <= (1 << 20))
    touchMtime(f)
    files += f
    log("new", f, bytes.length)
    f
  }

  /** A file too large to hold: written in segments of `maxRecordBytes`
    * so every expected chunk is one segment with a known digest. */
  def createLarge(d: File, topic: String, len: Long): GenFile = {
    val f = new GenFile(new File(d, f"f$nextId%06d.log").getAbsolutePath, topic, tail = true)
    nextId += 1
    new FileOutputStream(f.path).close()
    var left = len
    while (left > 0) {
      val seg = logBytes(math.min(left, maxRecordBytes.toLong).toInt)
      write(f, seg, append = true)
      f.append(seg, keepBytes = false)
      left -= seg.length
    }
    f.exists = true
    touchMtime(f)
    files += f
    log("new", f, len)
    f
  }

  def append(f: GenFile, bytes: Array[Byte]): Unit = {
    write(f, bytes, append = true)
    f.append(bytes, keepBytes = bytes.length <= (1 << 20))
    touchMtime(f)
    log("append", f, bytes.length)
  }

  /** Same size, different bytes: every digit of the first line moves. */
  def rewriteSameSize(f: GenFile): Unit = {
    val b = f.content
    var i = 0
    while (i < b.length && b(i) != '\n') {
      if (b(i) >= '0' && b(i) <= '9') b(i) = ('0' + (b(i) - '0' + 1 + rng.nextInt(9)) % 10).toByte
      i += 1
    }
    write(f, b, append = false)
    f.replace(b)
    touchMtime(f)
    log("rewrite", f, b.length)
  }

  /** Truncate to a line boundary, keeping at least one line. */
  def shrink(f: GenFile): Unit = {
    val b = f.content
    val ends = b.indices.filter(b(_) == '\n')
    val keep = if (ends.size <= 1) b.length else ends(rng.nextInt(ends.size - 1)) + 1
    val nb = java.util.Arrays.copyOf(b, keep)
    write(f, nb, append = false)
    f.replace(nb)
    touchMtime(f)
    log("shrink", f, nb.length)
  }

  def touch(f: GenFile): Unit = { touchMtime(f); log("touch", f, 0) }

  def delete(f: GenFile): Unit = {
    if (!new File(f.path).delete()) throw new java.io.IOException(s"cannot delete ${f.path}")
    f.exists = false
    log("delete", f, 0)
  }

  private def log(op: String, f: GenFile, n: Long): Unit =
    ledger.println(s"$op\t${f.topic}\t${f.path}\t$n\t${f.mtime}")

  def pick(n: Int): Int = rng.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + rng.nextInt(hi - lo + 1)

  // ---- the expected outcome of one poll ----

  /** Pre-converter records for one changed file; commits its state. */
  private def detect(f: GenFile): Seq[(Long, Int, Long, Array[Byte])] = {
    val cur = f.current
    val from: Option[Long] = f.committed match {
      case None => Some(0L)
      case Some(p) if p.size == cur.size && p.hash == cur.hash => None
      case Some(p) if f.tail =>
        if (cur.size > p.size) Some(if (f.prefixIntact) p.size else 0L) else None
      case Some(_) => Some(0L)
    }
    f.committed = Some(cur)
    f.prefixIntact = true
    from.filter(_ < cur.size) match {
      // nothing to emit still yields one empty record at offset 0
      case None => Seq((0L, 0, Rec.digest(Array.emptyByteArray), Array.emptyByteArray))
      case Some(s) =>
        val step = if (cur.size > inlineCap) maxRecordBytes.toLong else cur.size - s
        Iterator.iterate(s)(_ + step).takeWhile(_ < cur.size)
          .map(o => range(f, o, math.min(cur.size, o + step))).toSeq
    }
  }

  /** (offset, length, digest, bytes-or-null) of bytes [from, until). */
  private def range(f: GenFile, from: Long, until: Long): (Long, Int, Long, Array[Byte]) = {
    val len = (until - from).toInt
    f.segments.find(s => s.offset == from && s.length == len) match {
      case Some(s) => (from, len, s.digest, s.bytes)
      case None =>
        val b = java.util.Arrays.copyOfRange(f.content, from.toInt, until.toInt)
        (from, len, Rec.digest(b), b)
    }
  }

  /** The converter's contract: one record per non-blank line, at the
    * line's byte offset; an empty body passes through as one record. */
  private def split(topic: String, path: String, r: (Long, Int, Long, Array[Byte])): Seq[Rec] = {
    val (off, len, dig, bytes) = r
    if (!lineSplit || len == 0) Seq(Rec(topic, path, off, len, dig))
    else {
      val out = Seq.newBuilder[Rec]
      var start = 0
      var i = 0
      while (i <= bytes.length) {
        if (i == bytes.length || bytes(i) == '\n') {
          if (i > start) out += Rec(topic, path, off + start, i - start, Rec.digest(bytes, start, i - start))
          start = i + 1
        }
        i += 1
      }
      out.result()
    }
  }

  /** The records the next poll must serve. A poll with carried records
    * serves only those; otherwise it detects every file whose size or
    * mtime differs from its committed state and commits them all. */
  def expectPoll(maxPollRecords: Int): Vector[Rec] = {
    if (pending.isEmpty) {
      val changed = files.filter(f => f.exists &&
        !f.committed.exists(p => p.size == f.size && p.timestamp == f.mtime))
      pending = changed.flatMap(f => detect(f).flatMap(split(f.topic, f.path, _))).toVector
        .sortBy(r => (r.path, r.offset, r.topic))
    }
    val (head, tail) = pending.splitAt(maxPollRecords)
    pending = tail
    polls += 1
    head.foreach(r =>
      ledger.println(s"deliver\t$polls\t${r.topic}\t${r.path}\t${r.offset}\t${r.length}\t${r.digest}"))
    head.sorted
  }

  def hasPending: Boolean = pending.nonEmpty

  def committedState: Set[StateRow] = files.flatMap(_.committed).toSet

  /** Ends the ledger with the state the last poll must have committed. */
  def close(): Unit = {
    committedState.toSeq.sortBy(_.path).foreach(s =>
      ledger.println(s"state\t${s.path}\t${s.size}\t${s.timestamp}\t${s.hash}"))
    ledger.close()
  }
}
