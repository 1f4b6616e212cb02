package graft.functions

import java.util.Arrays

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** A [[WordCombiner]]'s words packed for shipping between JVMs: word i is
  * the next `lens(i)` bytes of `words` and occurs `counts(i)` times. */
final case class WordCounts(words: Array[Byte], lens: Array[Int], counts: Array[Long])

/** In-mapper combining for the reference's word count (Lin & Dyer,
  * *Data-Intensive Text Processing with MapReduce*, 2010, §3.1; the
  * reference's per-thread hash maps, `omp.cpp:92-141`): a byte-keyed
  * open-addressing counter of normalized words.
  *
  * [[addBytes]] tokenizes with the same byte rules as
  * [[TokenizeNormalizeImpl]]: split on [[WordNorm.isSpace]], trim
  * [[WordNorm.isStrip]] edges, lowercase ASCII. It lowercases the bytes
  * into a reused buffer first (neither predicate holds for a letter, so
  * the tokens are the same), and a token then allocates nothing unless
  * its word is new.
  *
  * Layout: one byte arena of normalized words (word i is
  * `arena(offs(i)) until arena(offs(i + 1))`), a count per word, and a
  * linear-probing slot table kept at most half full whose entries pack
  * a word's hash (high 32 bits) with its id (low 32 bits; -1 = empty),
  * so a probe touches the word's bytes only when the hashes match. Not
  * thread-safe: one combiner per task.
  */
final class WordCombiner {
  private var arena = new Array[Byte](1 << 12)
  private var offs = new Array[Int]((1 << 8) + 1)
  private var cnts = new Array[Long](1 << 8)
  private var slots = Array.fill(1 << 9)(-1L)
  private var n = 0
  private var tot = 0L
  private var buf = new Array[Byte](1 << 10)

  /** Distinct words. */
  def size: Int = n

  /** Tokens counted, Σ counts. */
  def total: Long = tot

  /** Counts every token of one line. */
  def addLine(line: Array[Byte]): Unit = addBytes(line, 0, line.length)

  /** Counts every token of `bytes(from until until)`, read as if
    * whitespace came before and after it: its first token starts at
    * `from` or later and its last ends at `until` or earlier. */
  def addBytes(bytes: Array[Byte], from: Int, until: Int): Unit = {
    val len = until - from
    if (buf.length < len) buf = new Array[Byte](math.max(len, 2 * buf.length))
    val b = buf
    var i = 0
    while (i < len) {
      val c = bytes(from + i)
      b(i) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
      i += 1
    }
    i = 0
    while (i < len) {
      while (i < len && WordNorm.isSpace(b(i))) i += 1
      var e = i
      while (e < len && !WordNorm.isSpace(b(e))) e += 1
      var s = i
      i = e
      while (s < e && WordNorm.isStrip(b(s))) s += 1
      while (e > s && WordNorm.isStrip(b(e - 1))) e -= 1
      if (e > s) put(b, s, e - s, 1L)
    }
  }

  /** Folds in another combiner's [[packed]] words. */
  def merge(p: WordCounts): Unit = {
    var off = 0
    var i = 0
    while (i < p.lens.length) {
      put(p.words, off, p.lens(i), p.counts(i))
      off += p.lens(i)
      i += 1
    }
  }

  /** The words in insertion order. */
  def packed: WordCounts = pack(Array.range(0, n))

  /** The words in ascending unsigned-byte order (≡ UTF8String binary
    * order ≡ C++ `std::string <`). */
  def sorted: WordCounts = {
    // One primitive sort of (first four bytes, zero-padded, unsigned) ×
    // 2³² + id orders every word but those that share a prefix; each run
    // of equal prefixes is then sorted on the full bytes. The sign flip
    // makes signed long order unsigned prefix order.
    val keys = new Array[Long](n)
    var i = 0
    while (i < n) {
      val off = offs(i)
      val len = offs(i + 1) - off
      var p = 0L
      var k = 0
      while (k < 4) {
        p = (p << 8) | (if (k < len) arena(off + k) & 0xff else 0)
        k += 1
      }
      keys(i) = ((p ^ 0x80000000L) << 32) | i
      i += 1
    }
    Arrays.sort(keys)
    val ids = keys.map(_.toInt)
    var lo = 0
    while (lo < n) {
      var hi = lo + 1
      while (hi < n && (keys(hi) >>> 32) == (keys(lo) >>> 32)) hi += 1
      if (hi - lo > 1) {
        val run = Array.tabulate[Integer](hi - lo)(k => ids(lo + k))
        Arrays.sort(run, (a: Integer, b: Integer) =>
          Arrays.compareUnsigned(arena, offs(a), offs(a + 1), arena, offs(b), offs(b + 1)))
        for (k <- run.indices) ids(lo + k) = run(k)
      }
      lo = hi
    }
    pack(ids)
  }

  private def pack(ids: Array[Int]): WordCounts = {
    val words = new Array[Byte](offs(n))
    val lens = new Array[Int](n)
    val counts = new Array[Long](n)
    var pos = 0
    var k = 0
    while (k < n) {
      val id = ids(k)
      val len = offs(id + 1) - offs(id)
      System.arraycopy(arena, offs(id), words, pos, len)
      pos += len
      lens(k) = len
      counts(k) = cnts(id)
      k += 1
    }
    WordCounts(words, lens, counts)
  }

  /** Adds `count` to the normalized word `bytes(from until from + len)`. */
  private def put(bytes: Array[Byte], from: Int, len: Int, count: Long): Unit = {
    val h = Murmur3_x86_32.hashUnsafeBytes2(bytes, Platform.BYTE_ARRAY_OFFSET + from, len, 42)
    val mask = slots.length - 1
    var s = h & mask
    var e = slots(s)
    while (e != -1L) {
      val id = e.toInt
      if ((e >>> 32).toInt == h && sameWord(id, bytes, from, len)) {
        cnts(id) += count
        tot += count
        return
      }
      s = (s + 1) & mask
      e = slots(s)
    }
    if (n == cnts.length) {
      offs = Arrays.copyOf(offs, 2 * n + 1)
      cnts = Arrays.copyOf(cnts, 2 * n)
    }
    val off = offs(n)
    if (arena.length - off < len)
      arena = Arrays.copyOf(arena, math.min(
        math.max(2L * arena.length, off.toLong + len), Int.MaxValue - 8L).toInt)
    System.arraycopy(bytes, from, arena, off, len)
    offs(n + 1) = off + len
    cnts(n) = count
    slots(s) = (h.toLong << 32) | n
    n += 1
    tot += count
    if (2 * n > slots.length) rehash()
  }

  /** Word `id` ≡ `bytes(from until from + len)`. A plain loop: on words
    * this short it runs ~20% faster per token than the range form of
    * `Arrays.equals`. */
  private def sameWord(id: Int, bytes: Array[Byte], from: Int, len: Int): Boolean = {
    val off = offs(id)
    if (offs(id + 1) - off != len) return false
    var k = 0
    while (k < len) {
      if (arena(off + k) != bytes(from + k)) return false
      k += 1
    }
    true
  }

  private def rehash(): Unit = {
    val old = slots
    slots = Array.fill(2 * old.length)(-1L)
    val mask = slots.length - 1
    var i = 0
    while (i < old.length) {
      val e = old(i)
      if (e != -1L) {
        var s = (e >>> 32).toInt & mask
        while (slots(s) != -1L) s = (s + 1) & mask
        slots(s) = e
      }
      i += 1
    }
  }
}
