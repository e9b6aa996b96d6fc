package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot paths where composing built-ins
  * would be wasteful. Both generate code via a single static call, so they
  * stay inside whole-stage codegen (no UDF serialization, no boxing of the
  * array elements beyond ArrayData access).
  */
object GraftImpl {

  /** FNV-1a 64-bit over UTF-8 bytes — deterministic token hash. */
  def fnv1a64(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit SimHash over whitespace tokens of a UTF-8 string. */
  def simhash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    val acc = new Array[Int](64)
    var start = 0
    var i = 0
    val n = bytes.length
    while (i <= n) {
      val isSep = i == n || bytes(i) == ' ' || bytes(i) == '\n' ||
        bytes(i) == '\t' || bytes(i) == '\r'
      if (isSep) {
        if (i > start) {
          val h = fnv1a64(bytes, start, i)
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
            j += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (acc(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Spark 4.1's `lower`/`upper` on UTF8_BINARY strings, by the same steps
    * (`CollationAwareUTF8String.toLowerCase`/`toUpperCase` in the 4.1.2
    * bytecode): ASCII-only strings map byte-wise, anything else through
    * ICU's full case mapping of the valid-UTF-8 string. Spark's path loads
    * `CollationAwareUTF8String`, whose static initializer builds a
    * title-case table over every code point; the first task to touch it
    * holds up every other task of the stage on the class-init lock.
    */
  def toLowerCase(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(com.ibm.icu.lang.UCharacter.toLowerCase(s.toValidString))

  def toUpperCase(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toUpperCaseAscii
    else UTF8String.fromString(com.ibm.icu.lang.UCharacter.toUpperCase(s.toValidString))

  /** Seeded xxHash64 of a UTF8String via Spark's own XXH64 implementation
    * (lane i uses seed i directly).
    */
  def xx64(s: UTF8String, seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)

  /** One-pass MinHash signature: k minima over the shingle array, lane j =
    * XXH64.hashLong(base, j) where base = xxhash64(shingle bytes, seed 0) —
    * the standard one-hash scheme (hash the variable-length bytes ONCE,
    * derive lanes by mixing the 64-bit base with the lane seed). The naive
    * per-lane-seeded form re-hashed the string bytes k times: measured 64
    * lanes over a 160k-doc corpus at 16 threads, the signature stage
    * dropped ~33 s -> ~2 s with identical LSH recall semantics (each lane
    * remains a uniform, independent-seeded hash of the shingle). Composing
    * from built-ins would cost k traversals (transform + array_min per
    * lane); this is one traversal, one string hash per element.
    */
  def minhashSig(shingles: ArrayData, k: Int): ArrayData = {
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i)
      if (s != null) {
        val base = xx64(s, 0L)
        var j = 0
        while (j < k) {
          val h = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashLong(base, j.toLong)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** One-pass multi-table SRP signatures: `tables` sign-bit buckets of
    * `bits` hyperplanes each over a float-vector, planes derived from the
    * deterministic xxhash64((dim, plane)) stream — same math as the
    * column-composed version but one traversal instead of tables*bits.
    */
  def srpSigs(vec: ArrayData, tables: Int, bits: Int): ArrayData = {
    val nPlanes = tables * bits
    val dots = new Array[Double](nPlanes)
    val n = vec.numElements()
    var i = 0
    while (i < n) {
      val v = vec.getFloat(i).toDouble
      var p = 0
      while (p < nPlanes) {
        // plane component: xxhash64 of (dim:long, plane:int) as Spark computes
        // it for xxhash64(col, lit(p)) -> scaled to ~[-1, 1)
        val h1 = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(i.toLong, 42L)
        val h2 = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashInt(p, h1)
        dots(p) += v * (h2.toDouble / 9.223372036854776e18)
        p += 1
      }
      i += 1
    }
    val sigs = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var b = 0
      while (b < bits) {
        if (dots(t * bits + b) >= 0) sig |= (1L << b)
        b += 1
      }
      sigs(t) = sig + (t.toLong << 32)
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }

  /** One-pass word w-shingles: lowercase, split on ASCII whitespace runs,
    * join each w-gram with single spaces, return the DISTINCT SORTED array.
    * Matches the composed form (lower -> regexp_replace \s+ -> split ->
    * slice/concat per position) including its n<=w edge (one shingle of all
    * words), but in a single pass with one TreeSet instead of per-position
    * array slices.
    */
  def wordShingles(text: UTF8String, w: Int): ArrayData = {
    val lowered = text.toLowerCase.toString
    val tokens = new java.util.ArrayList[String]()
    var i = 0
    val n = lowered.length
    while (i < n) {
      while (i < n && isWs(lowered.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(lowered.charAt(i))) i += 1
      if (i > start) tokens.add(lowered.substring(start, i))
    }
    val m = tokens.size()
    val out = new java.util.TreeSet[UTF8String]()
    if (m > 0) {
      val last = math.max(m - w, 0)
      var p = 0
      while (p <= last) {
        val sb = new java.lang.StringBuilder
        var q = p
        val end = math.min(p + w, m)
        while (q < end) {
          if (q > p) sb.append(' ')
          sb.append(tokens.get(q))
          q += 1
        }
        out.add(UTF8String.fromString(sb.toString))
        p += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray.asInstanceOf[Array[AnyRef]])
  }

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Jaccard similarity of two SORTED, DISTINCT string arrays via a
    * two-pointer merge scan — no hash sets (array_intersect/array_union
    * build one per row pair; on a blocked self-join that dominates).
    */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { inter += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    inter.toDouble / union.toDouble
  }

  /** The two 60-bit halves of an md5 digest, parsed straight from the
    * digest bytes: a = hex digits 0-14 (bytes 0..6 + high nibble of byte 7),
    * b = hex digits 15-29 (low nibble of byte 7 + bytes 8..14). Equals
    * parsing the hex string — PropertySpec pins that equivalence, since the
    * DuckDB oracles compute the same halves via substr(md5(x), ...).
    */
  def md5Halves(dg: Array[Byte]): (Long, Long) = {
    var lo7 = 0L
    var i = 8
    while (i < 15) { lo7 = (lo7 << 8) | (dg(i) & 0xffL); i += 1 }
    val b = ((dg(7) & 0x0fL) << 56) | lo7
    (md5Hi60(dg), b)
  }

  /** [[md5Halves]]' first half alone: the md5_60 key
    * (GraftFunctions.md5Hi60) every positional-gram and line-break hash
    * uses.
    */
  def md5Hi60(dg: Array[Byte]): Long = {
    var hi7 = 0L
    var i = 0
    while (i < 7) { hi7 = (hi7 << 8) | (dg(i) & 0xffL); i += 1 }
    (hi7 << 4) | ((dg(7) & 0xf0L) >>> 4)
  }

  /** Feeds a string's bytes to `md` without copying them off the heap. */
  private def mdUpdate(md: java.security.MessageDigest, s: UTF8String): Unit =
    s.getBaseObject match {
      case b: Array[Byte] =>
        md.update(b, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _ => md.update(s.getBytes)
    }

  /** md5_60 of `doc_id:i` for each word index i < n: the qt26/qt29 line
    * break hash (word i ends a line iff it is 0 mod the mean line length),
    * equal to GraftFunctions.md5Hi60(concat(doc_id, ':', i)).
    * Null for a null doc_id: callers break nowhere then, as that composed
    * form's null predicate does.
    */
  def breakHashes(docId: UTF8String, n: Int): Array[Long] = {
    if (docId == null) return null
    val out = new Array[Long](n)
    val p = docId.numBytes
    val key = new Array[Byte](p + 11)
    docId.writeToMemory(key, Platform.BYTE_ARRAY_OFFSET)
    key(p) = ':'
    val md = md5Local.get()
    md.reset()
    val dg = new Array[Byte](16)
    var i = 0
    while (i < n) {
      var digits = 1
      var v = i / 10
      while (v > 0) { digits += 1; v /= 10 }
      v = i
      var d = p + digits
      while (d > p) { key(d) = ('0' + v % 10).toByte; v /= 10; d -= 1 }
      md.update(key, 0, p + 1 + digits)
      md.digest(dg, 0, 16)
      out(i) = md5Hi60(dg)
      i += 1
    }
    out
  }

  /** md5_60 of each positional word w-gram: entry i hashes
    * array_join(slice(words, i + 1, w), ' ') (null words skipped, as
    * array_join skips them), for i in 0 .. n - w. Empty below w words.
    * qd14/qt38's gram table and winnowing's first loop.
    */
  def gramHashes(words: ArrayData, w: Int): Array[Long] = {
    val n = words.numElements()
    val out = new Array[Long](math.max(n - w + 1, 0))
    if (out.isEmpty) return out
    val ws = new Array[UTF8String](n)
    var i = 0
    while (i < n) { if (!words.isNullAt(i)) ws(i) = words.getUTF8String(i); i += 1 }
    val md = md5Local.get()
    md.reset()
    val dg = new Array[Byte](16)
    i = 0
    while (i < out.length) {
      var first = true
      var q = i
      while (q < i + w) {
        if (ws(q) != null) {
          if (!first) md.update(' '.toByte)
          mdUpdate(md, ws(q))
          first = false
        }
        q += 1
      }
      md.digest(dg, 0, 16)
      out(i) = md5Hi60(dg)
      i += 1
    }
    out
  }

  /** array_join of the words whose index no span [s, e) covers, with ' ':
    * the filter(words, (_, i) -> !exists(spans, sp -> sp.s <= i AND i < sp.e))
    * rebuild, one mask pass. Null spans keep every word; null span entries
    * are skipped.
    */
  def dropSpans(words: ArrayData, spans: ArrayData): UTF8String = {
    val n = words.numElements()
    val cut = new Array[Boolean](n)
    if (spans != null) {
      var j = 0
      while (j < spans.numElements()) {
        if (!spans.isNullAt(j)) {
          val sp = spans.getStruct(j, 2)
          if (!sp.isNullAt(0) && !sp.isNullAt(1)) {
            var i = math.min(math.max(sp.getLong(0), 0L), n.toLong).toInt
            val e = math.min(sp.getLong(1), n.toLong)
            while (i < e) { cut(i) = true; i += 1 }
          }
        }
        j += 1
      }
    }
    val kept = new Array[UTF8String](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!cut(i) && !words.isNullAt(i)) { kept(m) = words.getUTF8String(i); m += 1 }
      i += 1
    }
    UTF8String.concatWs(Space, java.util.Arrays.copyOf(kept, m): _*)
  }

  private val Space = UTF8String.fromString(" ")

  /** The islands of one doc's hit positions (any order): hits p < p'
    * chain when p' - p <= w, an island spans [first, last + w), and islands
    * shorter than minLen tokens are dropped. Returns (n_spans,
    * removed_tokens, spans ascending) — qd14/qt38's gaps-and-islands merge
    * in one sort and one sweep. Null positions are skipped.
    */
  def islandSpans(hits: ArrayData, w: Int,
      minLen: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val pos = new Array[Long](hits.numElements())
    var n = 0
    var i = 0
    while (i < pos.length) {
      if (!hits.isNullAt(i)) { pos(n) = hits.getInt(i); n += 1 }
      i += 1
    }
    java.util.Arrays.sort(pos, 0, n)
    val spans = new java.util.ArrayList[AnyRef]()
    var removed = 0L
    i = 0
    while (i < n) {
      val s = pos(i)
      while (i + 1 < n && pos(i + 1) - pos(i) <= w) i += 1
      val e = pos(i) + w
      if (e - s >= minLen) {
        spans.add(org.apache.spark.sql.catalyst.InternalRow(s, e))
        removed += e - s
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(spans.size.toLong, removed,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(spans.toArray))
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One-pass PORTABLE MinHash signature: lane_i = min over shingles of
    * (a + i*b) mod (2^61 - 1), with a/b the two 60-bit md5 halves of the
    * shingle ([[md5Halves]] == parsing substr(md5_hex, 1|16, 15), pinned by
    * PropertySpec). Bit-identical to the composed
    * transform(md5-conv) x2 + zip_with + array_min per lane, but ONE md5
    * digest per shingle (the composed form computes it twice) and one
    * traversal for all lanes instead of `lanes` zip_with passes.
    * Caller guards empty input (the composed form's array_min(empty) is
    * null; wrap in when(size > 0, ...)).
    */
  def minhashAffine(sh: ArrayData, lanes: Int): ArrayData = {
    val mins = Array.fill(lanes)(Long.MaxValue)
    val md = md5Local.get()
    val n = sh.numElements()
    var i = 0
    while (i < n) {
      val s = sh.getUTF8String(i)
      if (s != null) {
        md.reset()
        val (a, b) = md5Halves(md.digest(s.getBytes))
        var j = 0
        while (j < lanes) {
          val v = (a + j.toLong * b) % GraftFunctions.Mersenne61
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** One-pass per-document repetition profile (qt10's map-only core):
    * normalize exactly like the composed form (lower -> whitespace runs ->
    * tokens; the composed split-on-" " of the \s+-collapsed string yields the
    * maximal non-whitespace runs), then count words, distinct words, and
    * NON-distinct bigram multiplicities in one traversal with one HashMap —
    * replacing qt10's explode + (doc_id, bigram) groupBy + two per-doc joins.
    * Returns null for docs with < 2 words (no bigram slots — the composed
    * form's inner joins drop them; callers filter nulls).
    *
    * Fields: (n_words, n_distinct, top_bigram, top_count, n_bigrams), with
    * top_bigram = the lexicographically SMALLEST max-count bigram in UTF-8
    * byte order (= Spark min() on StringType = DuckDB MIN on VARCHAR).
    */
  def repetitionProfile(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val lowered = text.toLowerCase.toString
    val n = lowered.length
    val tokens = new java.util.ArrayList[String]()
    var i = 0
    while (i < n) {
      while (i < n && isWs(lowered.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(lowered.charAt(i))) i += 1
      if (i > start) tokens.add(lowered.substring(start, i))
    }
    val m = tokens.size()
    if (m < 2) return null
    val distinct = new java.util.HashSet[String]()
    val counts = new java.util.HashMap[String, Int]()
    distinct.add(tokens.get(0))
    var t = 1
    while (t < m) {
      distinct.add(tokens.get(t))
      counts.merge(tokens.get(t - 1) + " " + tokens.get(t), 1, Integer.sum)
      t += 1
    }
    var topCount = 0
    var top: UTF8String = null
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue > topCount) {
        topCount = e.getValue
        top = UTF8String.fromString(e.getKey)
      } else if (e.getValue == topCount) {
        val u = UTF8String.fromString(e.getKey)
        if (u.compareTo(top) < 0) top = u
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(
      m.toLong, distinct.size.toLong, top, topCount.toLong, (m - 1).toLong)
  }

  /** One-pass Gopher repetition battery (Rae et al. 2021 §A1.1 — the
    * MassiveText repetition filter; qt29's map-only core). Returns the 19
    * INTEGER numerators/denominators of the 13 fractions so every float
    * division happens once, at the column layer, identically on both
    * engines:
    *
    *   - words = split(lower(text), ' ') keeping empties (the qt26 word
    *     spine, so line identities match the composed SQL form);
    *   - lines/paragraphs = the qt26 deterministic segmentation (the corpus
    *     has no newline structure): word i ends a line iff
    *     md5_60(doc_id:i) % 5 == 0, a paragraph iff % 15 == 0 (every
    *     paragraph break is a line break — one hash per word serves both);
    *     empty-string segments are dropped;
    *   - duplicate line/paragraph stats count occurrences BEYOND the first
    *     of each distinct segment (occurrences and their code-point chars);
    *   - top-{2,3,4}-gram numerators = top_count * word-chars(top gram)
    *     (joined-gram code points minus the n-1 separators), tie-broken by
    *     the UTF-8 byte order of the joined grams like repetitionProfile;
    *   - dup-{5..10}-gram coverage = code-point chars of words at positions
    *     covered by AT LEAST one occurrence of any n-gram appearing >= 2
    *     times (the position-union Gopher/datatrove semantics — overlapping
    *     duplicated grams never double-count a word).
    *
    * All lengths are Unicode code points (= DuckDB len()). The words are
    * interned to int ids once ([[WordRuns]]); segments and n-grams are
    * counted as id runs in its exact (start, length) table, so no gram
    * string is built: gram bytes are compared only to break top-gram ties.
    */
  def gopherRepetition(docId: UTF8String, text: UTF8String):
      org.apache.spark.sql.catalyst.InternalRow = {
    val r = new WordRuns(validBytes(text.toLowerCase))
    val nWords = r.n
    val cps = new Array[Long](nWords)
    var wordChars = 0L
    var i = 0
    while (i < nWords) { cps(i) = r.codePoints(i); wordChars += cps(i); i += 1 }
    // one 60-bit hash per word index drives both segmentations
    val h = breakHashes(docId, nWords)
    def segStats(mod: Int): Array[Long] = {
      r.clearRuns()
      val st = new Array[Long](4) // segments, chars, dup occurrences, dup chars
      r.foreachSegment(h, mod) { (s, len) =>
        var l = len - 1L // the joining spaces
        var j = s
        while (j < s + len) { l += cps(j); j += 1 }
        val slot = r.runSlot(s, len)
        st(0) += 1; st(1) += l
        if (r.runCount(slot) > 0) { st(2) += 1; st(3) += l }
        r.runCount(slot) += 1
      }
      st
    }
    val lines = segStats(5)
    val paras = segStats(15)
    // n-grams of growing n: gh(p) extends the run hash of [p, p + n - 1)
    // by word p + n - 1; slots(p) is the table slot of the gram at p
    val gh = new Array[Long](nWords)
    java.util.Arrays.fill(gh, WordRuns.Seed)
    val slots = new Array[Int](nWords)
    val topNum = new Array[Long](3)
    val dupCov = new Array[Long](6)
    var n = 1
    while (n <= 10) {
      val nGrams = nWords - n + 1
      var p = 0
      while (p < nGrams) { gh(p) = WordRuns.step(gh(p), r.ids(p + n - 1)); p += 1 }
      if (n >= 2 && nGrams > 0) {
        r.clearRuns()
        p = 0
        while (p < nGrams) {
          val slot = r.runSlot(p, n, gh(p))
          r.runCount(slot) += 1
          slots(p) = slot
          p += 1
        }
        if (n <= 4) {
          // top_count * word-chars of the byte-order-smallest max-count gram
          var best = 0
          p = 1
          while (p < nGrams) {
            val c = r.runCount(slots(p))
            val cb = r.runCount(slots(best))
            if (c > cb || (c == cb && slots(p) != slots(best) &&
                r.compareJoined(p, best, n) < 0)) best = p
            p += 1
          }
          var chars = 0L
          var q = best
          while (q < best + n) { chars += cps(q); q += 1 }
          topNum(n - 2) = r.runCount(slots(best)) * chars
        } else {
          // union of word positions covered by duplicated n-grams
          var reach = 0
          var chars = 0L
          p = 0
          while (p < nWords) {
            if (p < nGrams && r.runCount(slots(p)) >= 2) reach = p + n
            if (p < reach) chars += cps(p)
            p += 1
          }
          dupCov(n - 5) = chars
        }
      }
      n += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      (Seq(nWords.toLong, wordChars) ++ lines ++ paras ++ topNum ++ dupCov)
        .map(_.asInstanceOf[Any]): _*)
  }

  /** qt26's C4 line battery over one document in one pass (the
    * split/filter/zip_with/array_position composition it replaces): words =
    * split(text, ' ') keeping empties; word i ends a line iff
    * md5_60(doc_id:i) % meanLen == 0 ([[breakHashes]]); empty lines are not
    * lines; a line passes the rules with >= minWords words and no word equal
    * to `block`; among passing lines the first of each distinct line is
    * kept (a hash set of [[WordRuns]] id runs). Returns (n_lines,
    * n_rule_dropped, n_dup_dropped, n_kept, kept = n_kept >= minLines,
    * clean_text = the kept lines joined with ' ').
    */
  def c4LineClean(docId: UTF8String, text: UTF8String, meanLen: Int,
      minWords: Int, block: UTF8String,
      minLines: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val b = validBytes(text)
    val r = new WordRuns(b)
    val n = r.n
    val h = breakHashes(docId, n)
    val blockId = r.idOf(block)
    val out = new Array[Byte](b.length)
    var o = 0
    var nLines = 0L
    var nRuleOk = 0L
    var nKept = 0L
    r.foreachSegment(h, meanLen) { (s, len) =>
      nLines += 1
      var blocked = false
      var j = s
      while (j < s + len) { blocked ||= r.ids(j) == blockId; j += 1 }
      if (len >= minWords && !blocked) {
        nRuleOk += 1
        val slot = r.runSlot(s, len)
        if (r.runCount(slot) == 0) {
          r.runCount(slot) = 1
          nKept += 1
          if (o > 0) { out(o) = ' '.toByte; o += 1 }
          val u = r.until(s + len - 1)
          System.arraycopy(b, r.from(s), out, o, u - r.from(s))
          o += u - r.from(s)
        }
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(nLines, nLines - nRuleOk,
      nRuleOk - nKept, nKept, if (nKept >= minLines) 1 else 0,
      UTF8String.fromBytes(out, 0, o))
  }

  /** The bytes of `s` as Spark's split sees them: a string that is not
    * valid UTF-8 round-trips through java.lang.String, whose decoder
    * replaces each malformed sequence (what split(s, ' ') does to it).
    */
  private def validBytes(s: UTF8String): Array[Byte] =
    if (s.isValid) s.getBytes else UTF8String.fromString(s.toString).getBytes

  /** One-pass winnowing fingerprint selection (qd15's map-only core;
    * Schleimer et al. 2003): positional k-gram 60-bit md5 hashes over the
    * word array, then each win-window keeps its RIGHTMOST min, distinct
    * positions in one monotonic-deque sweep — O(n) total, replacing the
    * composed column form whose collapsed projection re-inlined the full
    * hash-array transform into every window term (O(n^2 * win * k) md5
    * calls after CollapseProject; measured 579 s at sf0.1 vs sub-second
    * here). Returns ARRAY<STRUCT<pos, fp>>; selection semantics identical
    * (OpsSpec pins them against an independent reference).
    */
  def winnowFps(words: ArrayData, k: Int, win: Int): ArrayData = {
    val h = gramHashes(words, k)
    val nGrams = h.length
    val empty = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.empty[AnyRef])
    if (nGrams < win) return empty
    // sliding rightmost-min: evict back while >= incoming (ties prefer the
    // newer index, so the deque front is the window's RIGHTMOST min)
    val deque = new Array[Int](nGrams)
    var head = 0
    var tail = 0
    val out = new java.util.ArrayList[AnyRef]()
    var last = -1
    var i = 0
    while (i < nGrams) {
      while (tail > head && h(deque(tail - 1)) >= h(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (i >= win - 1) {
        while (deque(head) < i - win + 1) head += 1
        val p = deque(head)
        if (p != last) {
          out.add(org.apache.spark.sql.catalyst.InternalRow(p.toLong, h(p)))
          last = p
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** One greedy left-to-right BPE merge pass: replace non-overlapping
    * adjacent (l, r) symbol pairs with l||r. Matches the sequential fold
    * semantics exactly (a token produced by a merge in this pass never
    * re-merges, because l||r != l).
    */
  def bpeMergePair(syms: ArrayData, l: UTF8String, r: UTF8String): ArrayData = {
    val n = syms.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      val s = syms.getUTF8String(i)
      if (!out.isEmpty && out.get(out.size - 1).equals(l) && s.equals(r))
        out.set(out.size - 1, UTF8String.concat(l, r))
      else out.add(s)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** Integer dot product of two long arrays (int8-quantized codes live as
    * longs) — exact, overflow-free for |q| <= 127 up to ~10^12 dims.
    */
  def dotI64(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  /** Cosine similarity of two float arrays, accumulated in double in element
    * order (matches DuckDB's list_cosine_similarity semantics).
    */
  def cosineFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Plain f64 inner product of two ARRAY<FLOAT> vectors, left-to-right —
    * the same accumulation order DuckDB's list_inner_product applies to the
    * CAST DOUBLE[] arrays, so MIPS scores hash-match exactly (the
    * cosineFF↔list_cosine_similarity equivalence, minus the norms).
    */
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  /** Spark-round parity: what `round(col, scale)` does for DoubleType
    * (scala BigDecimal over Double.toString, HALF_UP) — used inside impls
    * whose intermediate rounding must match the column-layer/DuckDB ROUND.
    */
  private def roundTo(v: Double, scale: Int): Double =
    BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** One-pass character-entropy profile (qt31's core): code-point frequency
    * table, then the Shannon entropy in NATS as an ORDER-PINNED f64 fold —
    * each term -(c/n)*ln(c/n) rounded to 9 digits (the qt16 discipline that
    * collapses Java-vs-DuckDB `ln` ulp differences), terms sorted ascending,
    * summed left-to-right from 0.0 — exactly what the DuckDB oracle's
    * `list_reduce(list_prepend(0.0, list_sort(list(term))), +)` replays.
    * Returns (n_chars, n_distinct, max_count, entropy_raw); the fractions
    * (max_char_frac, final 6-digit round) divide once at the column layer
    * (the gopherRepetition discipline). n_chars counts Unicode code points
    * (= DuckDB len()); the corpus is ASCII but the impl doesn't assume it.
    */
  def charEntropy(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val counts = new java.util.HashMap[Integer, Int]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts.merge(cp, 1, Integer.sum)
      i += Character.charCount(cp)
      n += 1
    }
    if (n == 0L)
      return org.apache.spark.sql.catalyst.InternalRow(0L, 0L, 0L, 0.0)
    val nd = counts.size()
    val terms = new Array[Double](nd)
    var maxCount = 0L
    val it = counts.values().iterator()
    var t = 0
    while (it.hasNext) {
      val c = it.next().toLong
      if (c > maxCount) maxCount = c
      val p = c.toDouble / n.toDouble
      terms(t) = roundTo(-p * math.log(p), 9)
      t += 1
    }
    java.util.Arrays.sort(terms)
    var ent = 0.0
    var j = 0
    while (j < nd) { ent += terms(j); j += 1 }
    org.apache.spark.sql.catalyst.InternalRow(n, nd.toLong, maxCount, ent)
  }

  /** One-pass Unicode script bucket counts (qt37's core). Buckets are PLAIN
    * code-point ranges — deliberately simpler than full UCD Script
    * properties — so a DuckDB oracle replays every bucket from unicode(ch)
    * with BETWEEN tests: latin [41,5A]|[61,7A]|[C0,24F], cyrillic [400,4FF],
    * greek [370,3FF], arabic [600,6FF], hebrew [590,5FF], cjk
    * [4E00,9FFF]|[3400,4DBF]|[3040,30FF] (han + ext-A + kana), hangul
    * [AC00,D7AF], digit [30,39], space 20|[09,0D]; first match wins, the
    * rest is `other`. Returns 11 longs:
    * (n_cp, latin, cyrillic, greek, arabic, hebrew, cjk, hangul, digit,
    * space, other).
    */
  def scriptProfile(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    var i = 0
    var n, lat, cyr, grk, ara, heb, cjk, han, dig, spc, oth = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      if ((cp >= 0x41 && cp <= 0x5A) || (cp >= 0x61 && cp <= 0x7A) ||
          (cp >= 0xC0 && cp <= 0x24F)) lat += 1
      else if (cp >= 0x400 && cp <= 0x4FF) cyr += 1
      else if (cp >= 0x370 && cp <= 0x3FF) grk += 1
      else if (cp >= 0x600 && cp <= 0x6FF) ara += 1
      else if (cp >= 0x590 && cp <= 0x5FF) heb += 1
      else if ((cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0x3400 && cp <= 0x4DBF) ||
               (cp >= 0x3040 && cp <= 0x30FF)) cjk += 1
      else if (cp >= 0xAC00 && cp <= 0xD7AF) han += 1
      else if (cp >= 0x30 && cp <= 0x39) dig += 1
      else if (cp == 0x20 || (cp >= 0x09 && cp <= 0x0D)) spc += 1
      else oth += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      n, lat, cyr, grk, ara, heb, cjk, han, dig, spc, oth)
  }

  /** ac_scan(text, automaton): one-pass multi-phrase substring scan.
    * Returns (n_hits, n_phrases) — total occurrence positions over all
    * phrases (overlaps included) and the count of distinct phrases hit.
    * Always non-null (a no-hit doc is (0, 0)), so defineCodeGen's
    * non-null-result contract holds.
    */
  def acScan(text: UTF8String,
      ac: AcAutomaton): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    var state = 0
    var hits = 0L
    // generation-stamped thread-local scratch: per-row cost stays
    // O(|text| + matches) with NO per-row |P|-sized allocation — the
    // property that matters when the blocklist has thousands of phrases
    // and most rows have few hits
    val sc = ac.scratch()
    val gen = sc.nextGen()
    var nSeen = 0L
    var i = 0
    while (i < s.length) {
      state = ac.step(state, s.charAt(i))
      val ids = ac.out(state)
      var j = 0
      while (j < ids.length) {
        hits += 1
        if (sc.stamp(ids(j)) != gen) { sc.stamp(ids(j)) = gen; nSeen += 1 }
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(hits, nSeen)
  }
}

/** One document's words as byte ranges of a UTF-8 buffer, split on single
  * spaces keeping empties (Spark's split(text, ' '), DuckDB's
  * string_split), each distinct word interned to an int id, plus an exact
  * open-addressing table of word runs keyed by (start, length). Two runs
  * share a slot only when their id runs are equal, and since no word holds
  * a space, equal id runs are exactly equal joined strings. The table holds
  * at most `n` runs between clears at load <= 1/2.
  */
private[functions] final class WordRuns(bytes: Array[Byte]) {
  val n: Int = {
    var c = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') c += 1; i += 1 }
    c
  }
  /** Word w is bytes [from(w), until(w)). */
  val from = new Array[Int](n)
  val until = new Array[Int](n)
  locally {
    var w = 0
    var s = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        from(w) = s; until(w) = i; w += 1; s = i + 1
      }
      i += 1
    }
  }

  private val mask = {
    var cap = 16
    while (cap < 2 * n) cap <<= 1
    cap - 1
  }

  private def bytesHash(b: Array[Byte], f: Int, u: Int): Int = {
    var h = 0x811c9dc5
    var i = f
    while (i < u) { h = (h ^ (b(i) & 0xff)) * 0x01000193; i += 1 }
    h ^ (h >>> 16)
  }

  private def sameBytes(b: Array[Byte], f: Int, u: Int, w: Int): Boolean =
    u - f == until(w) - from(w) &&
      java.util.Arrays.equals(b, f, u, bytes, from(w), until(w))

  // intern table: slot -> 1 + the index of the word that first held it
  private val wordAt = new Array[Int](mask + 1)
  private val idAt = new Array[Int](mask + 1)
  /** The id of word w: ids count distinct words in first-seen order. */
  val ids = new Array[Int](n)
  locally {
    var next = 0
    var w = 0
    while (w < n) {
      var slot = bytesHash(bytes, from(w), until(w)) & mask
      while (wordAt(slot) != 0 && !sameBytes(bytes, from(w), until(w), wordAt(slot) - 1))
        slot = (slot + 1) & mask
      if (wordAt(slot) == 0) { wordAt(slot) = w + 1; idAt(slot) = next; next += 1 }
      ids(w) = idAt(slot)
      w += 1
    }
  }

  /** The id of the word equal to `s`, or -1 when no word is. */
  def idOf(s: UTF8String): Int = {
    val b = s.getBytes
    var slot = bytesHash(b, 0, b.length) & mask
    while (wordAt(slot) != 0) {
      if (sameBytes(b, 0, b.length, wordAt(slot) - 1)) return idAt(slot)
      slot = (slot + 1) & mask
    }
    -1
  }

  /** Unicode code points of word w (its non-continuation bytes). */
  def codePoints(w: Int): Long = {
    var c = 0L
    var i = from(w)
    while (i < until(w)) { if ((bytes(i) & 0xc0) != 0x80) c += 1; i += 1 }
    c
  }

  private val runStart = new Array[Int](mask + 1)
  private val runLen = new Array[Int](mask + 1) // 0 = free slot
  private val runKey = new Array[Long](mask + 1)
  /** A caller-kept count per slot, zeroed when its run is inserted. */
  val runCount = new Array[Int](mask + 1)

  def clearRuns(): Unit = java.util.Arrays.fill(runLen, 0)

  /** [[WordRuns.step]] folded over the ids of run [s, s + len). */
  def runHash(s: Int, len: Int): Long = {
    var h = WordRuns.Seed
    var i = s
    while (i < s + len) { h = WordRuns.step(h, ids(i)); i += 1 }
    h
  }

  /** Calls f(s, len) for each segment [s, s + len) of the words: word j
    * ends a segment iff h(j) % mod == 0 or j is the last word (`h` null:
    * one segment), and a segment that is one empty word is skipped. The
    * line and paragraph rule of qt26 and qt29.
    */
  def foreachSegment(h: Array[Long], mod: Int)(f: (Int, Int) => Unit): Unit = {
    var s = 0
    var j = 0
    while (j < n) {
      if ((h != null && h(j) % mod == 0) || j == n - 1) {
        val len = j - s + 1
        if (len > 1 || until(s) > from(s)) f(s, len)
        s = j + 1
      }
      j += 1
    }
  }

  /** [[runSlot]] with the run's [[runHash]]. */
  def runSlot(s: Int, len: Int): Int = runSlot(s, len, runHash(s, len))

  /** The slot of run [s, s + len) (len >= 1, `h` its [[runHash]]),
    * inserted with count 0 if no equal run is in the table.
    */
  def runSlot(s: Int, len: Int, h: Long): Int = {
    var slot = (h ^ (h >>> 32)).toInt & mask
    while (runLen(slot) != 0) {
      if (runLen(slot) == len && runKey(slot) == h &&
          java.util.Arrays.equals(ids, runStart(slot), runStart(slot) + len, ids, s, s + len))
        return slot
      slot = (slot + 1) & mask
    }
    runStart(slot) = s; runLen(slot) = len; runKey(slot) = h; runCount(slot) = 0
    slot
  }

  /** UTF-8 byte order of the joined strings of runs [p, p + len) and
    * [q, q + len): what UTF8String.compareTo gives for the two grams.
    */
  def compareJoined(p: Int, q: Int, len: Int): Int = {
    // cursors over the virtual joined bytes; a word's end reads as ' '
    // unless it is the run's last word
    var wa = p; var ia = from(p)
    var wb = q; var ib = from(q)
    while (true) {
      val ea = ia == until(wa) && wa == p + len - 1
      val eb = ib == until(wb) && wb == q + len - 1
      if (ea || eb) return (if (ea) 0 else 1) - (if (eb) 0 else 1)
      val ca = if (ia < until(wa)) bytes(ia) & 0xff else ' '.toInt
      val cb = if (ib < until(wb)) bytes(ib) & 0xff else ' '.toInt
      if (ca != cb) return ca - cb
      if (ia < until(wa)) ia += 1 else { wa += 1; ia = from(wa) }
      if (ib < until(wb)) ib += 1 else { wb += 1; ib = from(wb) }
    }
    0
  }
}

private[functions] object WordRuns {
  val Seed: Long = 0x243f6a8885a308d3L
  def step(h: Long, id: Int): Long = {
    val x = (h ^ (id + 1L)) * 0x9e3779b97f4a7c15L
    x ^ (x >>> 29)
  }
}

/** Aho–Corasick automaton over UTF-16 chars for multi-phrase substring
  * scanning (Aho & Corasick 1975, CACM 18(6) — "Efficient string matching:
  * an aid to bibliographic search"). Built once on the driver from the
  * literal phrase list and shipped to executors inside the plan's
  * reference array (ctx.addReferenceObj), so the per-row scan has zero
  * setup and runs O(|text| + matches) regardless of how many phrases the
  * blocklist holds — the reason production badword/contamination filters
  * use an automaton instead of |P| independent contains() passes. Each
  * node's output set is precomputed as own endings + fail-chain endings,
  * so the scan never walks suffix links at match time.
  */
final class AcAutomaton(val phrases: Array[String]) extends Serializable {
  require(phrases.nonEmpty && phrases.forall(_.nonEmpty) &&
    phrases.distinct.length == phrases.length,
    "ac_scan needs a non-empty list of distinct, non-empty phrases")

  val nPhrases: Int = phrases.length

  private val (children, fail, outIds) = AcAutomaton.build(phrases)

  /** per-thread distinct-phrase scratch (stamps, not booleans, so rows
    * never re-zero it; generation wraps reset it once per ~2^31 rows)
    */
  @transient private lazy val scratchTL =
    new ThreadLocal[AcAutomaton.ScanScratch] {
      override def initialValue(): AcAutomaton.ScanScratch =
        new AcAutomaton.ScanScratch(nPhrases)
    }
  def scratch(): AcAutomaton.ScanScratch = scratchTL.get()

  /** goto with fail-link fallback; root absorbs unknown chars. */
  def step(state0: Int, c: Char): Int = {
    var s = state0
    var nxt = children(s).get(c)
    while (s != 0 && nxt == null) {
      s = fail(s)
      nxt = children(s).get(c)
    }
    if (nxt == null) 0 else nxt.intValue
  }

  /** phrase ids ending at this state (own + every fail-chain suffix). */
  def out(state: Int): Array[Int] = outIds(state)
}

object AcAutomaton {
  final class ScanScratch(n: Int) {
    val stamp = new Array[Int](n)
    private var gen = 0
    def nextGen(): Int = {
      if (gen == Int.MaxValue) { java.util.Arrays.fill(stamp, 0); gen = 0 }
      gen += 1
      gen
    }
  }

  private def build(phrases: Array[String]): (
      Array[java.util.HashMap[Character, Integer]], Array[Int],
      Array[Array[Int]]) = {
    val ch = scala.collection.mutable.ArrayBuffer
      .empty[java.util.HashMap[Character, Integer]]
    val own = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[Int]]
    def node(): Int = {
      ch += new java.util.HashMap[Character, Integer]()
      own += scala.collection.mutable.ArrayBuffer.empty[Int]
      ch.length - 1
    }
    node() // root = 0
    var p = 0
    while (p < phrases.length) {
      var s = 0
      var i = 0
      val ph = phrases(p)
      while (i < ph.length) {
        val c = ph.charAt(i)
        val nxt = ch(s).get(c)
        s = if (nxt == null) { val t = node(); ch(s).put(c, t); t }
        else nxt.intValue
        i += 1
      }
      own(s) += p
      p += 1
    }
    val n = ch.length
    val fail = new Array[Int](n)
    val out = new Array[Array[Int]](n)
    out(0) = own(0).toArray // empty: phrases are non-empty
    val q = new java.util.ArrayDeque[Integer]()
    ch(0).forEach { (_, v) => fail(v) = 0; q.add(v) }
    while (!q.isEmpty) {
      val u = q.poll().intValue
      out(u) = (own(u) ++ out(fail(u))).toArray
      ch(u).forEach { (c, v) =>
        var f = fail(u)
        while (f != 0 && ch(f).get(c) == null) f = fail(f)
        val t = ch(f).get(c)
        fail(v.intValue) =
          if (t != null && t.intValue != v.intValue) t.intValue else 0
        q.add(v)
      }
    }
    (ch.toArray, fail, out)
  }
}

/** cms_sketch(item, depth, width): Count-Min Sketch aggregate (Cormode &
  * Muthukrishnan, J. Algorithms 2005) — the
  * bounded-memory frequency summary a 100 TB corpus-statistics pass needs
  * (a full groupBy materializes the whole key space; the sketch is a fixed
  * depth x width grid with map-side partial aggregation, merged cellwise).
  *
  * Lane hashes use the same portable md5-affine family as the minhash
  * profile — h_d(item) = ((a + d*b) mod (2^61-1)) mod width with a/b the
  * two 60-bit hex halves of md5(item) — so every CELL VALUE is exactly
  * reproducible in the DuckDB oracle (deterministic, not just
  * epsilon-bounded). depth <= 7 keeps a + d*b inside signed-64 range.
  */
case class CmsSketch(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Long]] {
  require(depth >= 1 && depth <= 7, s"depth must be 1..7, got $depth")
  require(width >= 1, s"width must be >= 1, got $width")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  // one digest instance per task thread (update() is single-threaded per task)
  @transient private lazy val md5 = java.security.MessageDigest.getInstance("MD5")

  override def update(buffer: Array[Long], input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      md5.reset()
      val dg = md5.digest(v.asInstanceOf[UTF8String].getBytes)
      val (a, b) = GraftImpl.md5Halves(dg)
      var d = 0
      while (d < depth) {
        val cell = (((a + d.toLong * b) % GraftFunctions.Mersenne61) % width).toInt
        buffer(d * width + cell) += 1
        d += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): CmsSketch =
    copy(child = newChildren.head)
  override def prettyName: String = "cms_sketch"
}

/** kmv_sketch(item, k): K-Minimum-Values distinct-cardinality sketch
  * (Bar-Yossef et al., "Counting distinct elements in a data stream",
  * RANDOM'02) — the bounded-memory answer to COUNT(DISTINCT item) at 100 TB
  * (an exact count-distinct shuffles the whole key space; KMV keeps the k
  * smallest distinct hash values, merged by set-union-and-trim, and
  * estimates D ~ (k-1) * 2^60 / h_k with ~1/sqrt(k-2) relative error).
  *
  * The hash is the first 60-bit md5 half (the minhash/CMS lane family), so
  * UNLIKE HyperLogLog the sketch CONTENT is deterministic and exactly
  * reproducible by the DuckDB oracle: SELECT DISTINCT hash ORDER BY hash
  * LIMIT k. Returns the ascending array of retained hashes.
  */
case class KmvSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {
  require(k >= 2, s"k must be >= 2, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  @transient private lazy val md5 = java.security.MessageDigest.getInstance("MD5")

  override def update(buffer: java.util.TreeSet[java.lang.Long],
      input: org.apache.spark.sql.catalyst.InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      md5.reset()
      val dg = md5.digest(v.asInstanceOf[UTF8String].getBytes)
      val h = GraftImpl.md5Halves(dg)._1
      if (buffer.size < k) buffer.add(h)
      else if (h < buffer.last()) {
        if (buffer.add(h)) buffer.remove(buffer.last())
      }
    }
    buffer
  }

  override def merge(buffer: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    buffer.addAll(other)
    while (buffer.size > k) buffer.remove(buffer.last())
    buffer
  }

  override def eval(buffer: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](buffer.size)
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  override def serialize(buffer: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.size * 8)
    buffer.forEach(h => bb.putLong(h))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val s = new java.util.TreeSet[java.lang.Long]()
    while (bb.hasRemaining) s.add(bb.getLong)
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): KmvSketch =
    copy(child = newChildren.head)
  override def prettyName: String = "kmv_sketch"
}

/** hll_sketch(item, m): HyperLogLog distinct-cardinality registers over the
  * 60-bit md5-half hash stream (Flajolet et al. 2007) — the log-space
  * COUNT(DISTINCT) companion to kmv_sketch: KMV keeps k raw hashes (k*8
  * bytes, exact content), HLL keeps only m one-byte registers, the shape
  * that scales to per-group cardinalities (one 64-byte state per key vs
  * 2 KB+ for KMV). m must be a power of two; register j = max over items
  * with h mod m == j of (leading-zero run of h div m within its 60-log2(m)
  * bits, plus 1) — every quantity integer, so the DuckDB oracle replays the
  * register CONTENT exactly (bucket = h % m, rank = (61 - log2(m)) -
  * bitlength(h // m)) and the usual "HLL is engine-specific" caveat does
  * not apply. Returns the m-element int array of registers; the standard
  * bias-corrected estimate alpha_m * m^2 / sum(2^-M_j) is derived from it
  * (HllSketchSpec pins the estimator to within the published 1.04/sqrt(m)
  * band on known cardinalities).
  */
case class HllSketch(
    child: Expression,
    m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Byte]] {
  require(m >= 16 && (m & (m - 1)) == 0 && m <= 4096,
    s"m must be a power of two in [16, 4096], got $m")

  private val p = java.lang.Integer.numberOfTrailingZeros(m)
  // h is 60 bits; after dropping the p bucket bits, 60-p remain, so the
  // zero-run rank ranges 1 .. 61-p (the all-zero word reads 61-p)
  private val maxRank = 61 - p

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  @transient private lazy val md5 = java.security.MessageDigest.getInstance("MD5")

  override def update(buffer: Array[Byte],
      input: org.apache.spark.sql.catalyst.InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      md5.reset()
      val dg = md5.digest(v.asInstanceOf[UTF8String].getBytes)
      val h = GraftImpl.md5Halves(dg)._1
      val bucket = (h & (m - 1)).toInt
      val w = h >>> p
      val rank =
        if (w == 0L) maxRank else maxRank - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rank > buffer(bucket)) buffer(bucket) = rank.toByte
    }
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if (other(i) > buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Byte]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      buffer.map(_.toInt))

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HllSketch =
    copy(child = newChildren.head)
  override def prettyName: String = "hll_sketch"
}

/** hll_merge(registers, m): elementwise-MAX union of pre-built HLL register
  * arrays — the aggregate half of HyperBall (Boldi & Vigna 2013): union of
  * HLL sketches is register-wise max, so ball(v, r) = merge over neighbors
  * of ball(·, r-1) is ONE hash aggregate per round with map-side partials
  * (a host with 10^8 in-links combines its neighbor sketches before the
  * shuffle, shipping one m-byte state per reducer key). Input rows are the
  * int arrays [[HllSketch]] emits; the all-zero array is the empty-sketch
  * identity, so the aggregate over zero rows after a left join degrades
  * correctly.
  */
case class HllMerge(
    child: Expression,
    m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Byte]] {
  require(m >= 16 && (m & (m - 1)) == 0 && m <= 4096,
    s"m must be a power of two in [16, 4096], got $m")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buffer: Array[Byte],
      input: org.apache.spark.sql.catalyst.InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      require(arr.numElements() == m,
        s"hll_merge(m=$m) fed a ${arr.numElements()}-register array")
      var i = 0
      while (i < m) {
        val r = arr.getInt(i)
        if (r > buffer(i)) buffer(i) = r.toByte
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if (other(i) > buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Byte]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      buffer.map(_.toInt))

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HllMerge =
    copy(child = newChildren.head)
  override def prettyName: String = "hll_merge"
}

object TopKRank {
  /** (sort_key, payload) heap entry; WORST-first comparator for the bounded
    * min-heap (worst = lowest key, then highest payload — the element the
    * (key DESC, payload ASC) ranking would evict first).
    */
  final case class Entry(key: Double, payload: Long)
  val worstFirst: java.util.Comparator[Entry] =
    (a: Entry, b: Entry) => {
      val c = java.lang.Double.compare(a.key, b.key)
      if (c != 0) c else java.lang.Long.compare(b.payload, a.payload)
    }
}

/** top_k_rank(sortKey, payload, k): the k best (sortKey DESC, payload ASC)
  * pairs per group as a rank-ordered array<struct<sort_key,payload>> — the
  * SCALE-SAFE top-k-per-group shape. A row_number window over a
  * low-cardinality key (q07: 25 nations over the whole corpus) materializes
  * and SORTS corpus/|key| rows per partition; this aggregate keeps a fixed
  * k-entry heap per group with map-side partial aggregation (each map task
  * contributes at most k entries per group to the shuffle) and merge =
  * heap union — the qt12 KMV pattern applied to ranking. Duplicate
  * (key, payload) pairs are retained (heap, not set), matching the window
  * form's rank semantics on duplicate rows.
  *
  * Explode the result with posexplode: rank = pos + 1. Equality with the
  * window form is exact — any global top-k row is top-k in every partial —
  * proven by OpsSpec against q07 and by the q19 oracle (which REPLAYS the
  * single-window form in DuckDB).
  */
case class TopKRankAgg(
    keyExpr: Expression,
    payloadExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[java.util.PriorityQueue[TopKRank.Entry]] {
  require(k >= 1, s"k must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(keyExpr, payloadExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sort_key", DoubleType, nullable = false),
    StructField("payload", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): java.util.PriorityQueue[TopKRank.Entry] =
    new java.util.PriorityQueue[TopKRank.Entry](k + 1, TopKRank.worstFirst)

  override def update(buffer: java.util.PriorityQueue[TopKRank.Entry],
      input: org.apache.spark.sql.catalyst.InternalRow): java.util.PriorityQueue[TopKRank.Entry] = {
    val kv = keyExpr.eval(input)
    val pv = payloadExpr.eval(input)
    if (kv != null && pv != null) {
      val e = TopKRank.Entry(kv.asInstanceOf[Double], pv.asInstanceOf[Long])
      if (buffer.size < k) buffer.add(e)
      else if (TopKRank.worstFirst.compare(buffer.peek(), e) < 0) {
        buffer.poll(); buffer.add(e)
      }
    }
    buffer
  }

  override def merge(buffer: java.util.PriorityQueue[TopKRank.Entry],
      other: java.util.PriorityQueue[TopKRank.Entry]): java.util.PriorityQueue[TopKRank.Entry] = {
    val it = other.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (buffer.size < k) buffer.add(e)
      else if (TopKRank.worstFirst.compare(buffer.peek(), e) < 0) {
        buffer.poll(); buffer.add(e)
      }
    }
    buffer
  }

  override def eval(buffer: java.util.PriorityQueue[TopKRank.Entry]): Any = {
    val arr = buffer.toArray(new Array[TopKRank.Entry](buffer.size))
    // best-first output order = rank order (key DESC, payload ASC)
    java.util.Arrays.sort(arr, TopKRank.worstFirst.reversed())
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      arr.map(e => org.apache.spark.sql.catalyst.InternalRow(e.key, e.payload)
        .asInstanceOf[AnyRef]))
  }

  override def serialize(buffer: java.util.PriorityQueue[TopKRank.Entry]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.size * 16)
    buffer.forEach { e => bb.putDouble(e.key); bb.putLong(e.payload) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[TopKRank.Entry] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val q = createAggregationBuffer()
    while (bb.hasRemaining) q.add(TopKRank.Entry(bb.getDouble, bb.getLong))
    q
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKRankAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKRankAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKRankAgg =
    copy(keyExpr = newChildren(0), payloadExpr = newChildren(1))
  override def prettyName: String = "top_k_rank"
}

/** partition_counters(partition_id, c1, ..., cn): for each int partition
  * id, the sum and the max of every integral counter c_i, as
  * array<struct<partition_id, sum: array<bigint>, max: array<bigint>>> in
  * ascending partition id. It is a grouped aggregate in the shape of one
  * aggregate, so it can ride on a write as a Dataset observation, which
  * takes aggregates but no groupBy: ExtractJob counts its lineage on the
  * frame the commit writes instead of re-reading the commit. The buffer
  * keeps 2n longs per partition id it sees, so the id space must be small.
  * Rows with a null partition id are skipped; a null counter counts as 0.
  */
case class PartitionCounters(
    partitionId: Expression,
    counters: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[scala.collection.mutable.LongMap[Array[Long]]] {
  type Buffer = scala.collection.mutable.LongMap[Array[Long]]
  private val n = counters.length

  override def children: Seq[Expression] = partitionId +: counters
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("partition_id", IntegerType, nullable = false),
    StructField("sum", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("max", ArrayType(LongType, containsNull = false), nullable = false))),
    containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    val bad = (partitionId.dataType != IntegerType) +: counters.map(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => false
      case _ => true
    })
    if (!bad.contains(true)) TypeCheckSuccess
    else TypeCheckFailure("partition_counters takes an int partition id and integral " +
      s"counters, got ${children.map(_.dataType.simpleString).mkString(", ")}")
  }

  override def createAggregationBuffer(): Buffer = scala.collection.mutable.LongMap.empty

  override def update(buffer: Buffer,
      input: org.apache.spark.sql.catalyst.InternalRow): Buffer = {
    val pid = partitionId.eval(input)
    if (pid != null) {
      val key = pid.asInstanceOf[Int].toLong
      var acc = buffer.getOrNull(key)
      val first = acc == null
      if (first) { acc = new Array[Long](2 * n); buffer.update(key, acc) }
      var i = 0
      while (i < n) {
        val c = counters(i).eval(input)
        val v = if (c == null) 0L else c.asInstanceOf[Number].longValue
        acc(i) += v
        acc(n + i) = if (first) v else math.max(acc(n + i), v)
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Buffer, other: Buffer): Buffer = {
    other.foreachEntry { (key, o) =>
      val acc = buffer.getOrNull(key)
      if (acc == null) buffer.update(key, o)
      else {
        var i = 0
        while (i < n) {
          acc(i) += o(i)
          acc(n + i) = math.max(acc(n + i), o(n + i))
          i += 1
        }
      }
    }
    buffer
  }

  override def eval(buffer: Buffer): Any = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val keys = buffer.keys.toArray
    java.util.Arrays.sort(keys)
    new GenericArrayData(keys.map { k =>
      val acc = buffer(k)
      org.apache.spark.sql.catalyst.InternalRow(k.toInt,
        new GenericArrayData(java.util.Arrays.copyOfRange(acc, 0, n)),
        new GenericArrayData(java.util.Arrays.copyOfRange(acc, n, 2 * n))): AnyRef
    })
  }

  override def serialize(buffer: Buffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.size * (8 + 16 * n))
    buffer.foreachEntry { (key, acc) => bb.putLong(key); acc.foreach(bb.putLong) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buffer = createAggregationBuffer()
    while (bb.hasRemaining) {
      val key = bb.getLong
      buffer.update(key, Array.fill(2 * n)(bb.getLong))
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): PartitionCounters =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): PartitionCounters =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PartitionCounters =
    copy(partitionId = newChildren.head, counters = newChildren.tail)
  override def prettyName: String = "partition_counters"
}

/** graft_lower(s) / graft_upper(s): Spark's `lower`/`upper` on plain
  * strings, computed by [[GraftImpl.toLowerCase]]/[[GraftImpl.toUpperCase]].
  */
case class CaseMap(child: Expression, upper: Boolean) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (upper) GraftImpl.toUpperCase(s) else GraftImpl.toLowerCase(s)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftImpl.${if (upper) "toUpperCase" else "toLowerCase"}($c)")
  override protected def withNewChildInternal(newChild: Expression): CaseMap =
    copy(child = newChild)
  override def prettyName: String = if (upper) "graft_upper" else "graft_lower"
}

/** simhash64(text): 64-bit SimHash of a string (document-level near-dup key). */
case class SimHash64(child: Expression) extends UnaryExpression {
  // input contract: StringType (AbstractDataType/ExpectsInputTypes are
  // private[sql], so typing is enforced by the Column wrappers below)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    GraftImpl.simhash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftImpl.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** cosine_ff(a, b): cosine similarity of two ARRAY<FLOAT> embeddings. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  // input contract: (ARRAY<FLOAT>, ARRAY<FLOAT>)
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftImpl.cosineFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftImpl.cosineFF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_ff"
}

/** repetition_profile(text): one-pass per-doc repetition stats struct
  * (n_words, n_distinct, top_bigram, top_count, n_bigrams); null if the doc
  * has < 2 words. Map-only replacement for qt10's explode+groupBy+joins.
  */
case class RepetitionProfile(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_bigram", StringType, nullable = false),
    StructField("top_count", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false)))
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    GraftImpl.repetitionProfile(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // defineCodeGen assumes a non-null result from the static call; this
    // call returns null for <2-word docs, so emit the null re-check by hand
    val childGen = child.genCode(ctx)
    val code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = ${childGen.isNull};
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.GraftImpl.repetitionProfile(${childGen.value});
          ${ev.isNull} = (${ev.value} == null);
        }
      """
    ev.copy(code = code)
  }
  override protected def withNewChildInternal(newChild: Expression): RepetitionProfile =
    copy(child = newChild)
  override def prettyName: String = "repetition_profile"
}

/** dot_ff(a, b): f64 inner product of two ARRAY<FLOAT> vectors (MIPS
  * scoring; left-to-right accumulation == DuckDB list_inner_product).
  */
case class DotFF(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftImpl.dotFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftImpl.dotFF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotFF =
    copy(left = l, right = r)
  override def prettyName: String = "dot_ff"
}

/** char_entropy(text): code-point frequency profile + order-pinned Shannon
  * entropy in nats (see GraftImpl.charEntropy). Map-only, zero exchanges —
  * the composed form (split to chars -> explode -> two hash aggregates)
  * would shuffle corpus-chars rows; this is one pass per document. Never
  * null for non-null input.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("max_count", LongType, nullable = false),
    StructField("entropy_raw", DoubleType, nullable = false)))
  override protected def nullSafeEval(input: Any): Any =
    GraftImpl.charEntropy(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftImpl.charEntropy($c)")
  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
  override def prettyName: String = "char_entropy"
}

/** script_profile(text): one-pass Unicode script bucket counts (qt37) —
  * plain code-point-range buckets (see GraftImpl.scriptProfile) so every
  * count is DuckDB-replayable integer math.
  */
case class ScriptProfile(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(
    Seq("n_cp", "latin", "cyrillic", "greek", "arabic", "hebrew", "cjk",
      "hangul", "digit", "space", "other")
      .map(f => StructField(f, LongType, nullable = false)))
  override protected def nullSafeEval(input: Any): Any =
    GraftImpl.scriptProfile(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftImpl.scriptProfile($c)")
  override protected def withNewChildInternal(newChild: Expression): ScriptProfile =
    copy(child = newChild)
  override def prettyName: String = "script_profile"
}

/** gopher_repetition(doc_id, text): the 19 integer numerators/denominators
  * of the Gopher §A1.1 repetition battery in one pass (qt29's core) — the
  * fractions divide once at the column layer. Never null for non-null input.
  */
case class GopherRepetition(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StructType((
    Seq("n_words", "word_chars", "n_lines", "line_chars", "dup_line_occ",
      "dup_line_chars", "n_paras", "para_chars", "dup_para_occ",
      "dup_para_chars", "top2_num", "top3_num", "top4_num") ++
      (5 to 10).map(n => s"dup${n}_cov"))
    .map(f => StructField(f, LongType, nullable = false)))
  override protected def nullSafeEval(d: Any, t: Any): Any =
    GraftImpl.gopherRepetition(d.asInstanceOf[UTF8String],
      t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (d, t) => s"graft.functions.GraftImpl.gopherRepetition($d, $t)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): GopherRepetition =
    copy(left = l, right = r)
  override def prettyName: String = "gopher_repetition"
}

/** dot_i64(a, b): exact integer dot product of two ARRAY<BIGINT> codes. */
case class DotI64(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftImpl.dotI64(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftImpl.dotI64($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotI64 =
    copy(left = l, right = r)
  override def prettyName: String = "dot_i64"
}

/** bpe_merge(syms, l, r): one greedy left-to-right BPE merge pass. */
case class BpeMerge(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(syms: Any, l: Any, r: Any): Any =
    GraftImpl.bpeMergePair(syms.asInstanceOf[ArrayData],
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, c) => s"graft.functions.GraftImpl.bpeMergePair($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): BpeMerge = copy(first = f, second = s, third = t)
  override def prettyName: String = "bpe_merge"
}

/** word_shingles(text, w): distinct sorted word w-grams. */
case class WordShingles(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    GraftImpl.wordShingles(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftImpl.wordShingles($c, $w)")
  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
  override def prettyName: String = "word_shingles"
}

/** jaccard_sorted(a, b): Jaccard of two sorted distinct string arrays. */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftImpl.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftImpl.jaccardSorted($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSorted =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_sorted"
}

/** minhash_sig(shingles, k): one-pass k-lane MinHash signature. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    GraftImpl.minhashSig(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftImpl.minhashSig($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

/** minhash_affine(shingles, lanes): one-pass portable md5-affine MinHash. */
case class MinHashAffine(child: Expression, lanes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    GraftImpl.minhashAffine(input.asInstanceOf[ArrayData], lanes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftImpl.minhashAffine($c, $lanes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashAffine =
    copy(child = newChild)
  override def prettyName: String = "minhash_affine"
}

/** winnow_fps(words, k, win): winnowing fingerprint selection —
  * ARRAY<STRUCT<pos, fp>> of the rightmost-min positional k-gram hashes
  * per win-window, distinct, in one O(n) pass.
  */
case class WinnowFps(child: Expression, k: Int, win: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("fp", LongType, nullable = false))), containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    GraftImpl.winnowFps(input.asInstanceOf[ArrayData], k, win)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftImpl.winnowFps($c, $k, $win)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
  override def prettyName: String = "winnow_fps"
}

/** srp_sigs(vec, tables, bits): one-pass multi-table SRP-LSH signatures. */
case class SrpSigs(child: Expression, tables: Int, bits: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    GraftImpl.srpSigs(input.asInstanceOf[ArrayData], tables, bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftImpl.srpSigs($c, $tables, $bits)")
  override protected def withNewChildInternal(newChild: Expression): SrpSigs =
    copy(child = newChild)
  override def prettyName: String = "srp_sigs"
}

/** gram_hashes(words, w): the md5_60 of each positional word w-gram,
  * ARRAY<BIGINT> in position order (qd14/qt38's gram table): the
  * transform(sequence(0, n - w), i -> md5_60(array_join(slice(words, i + 1,
  * w), ' '))) composition in one pass. Empty below w words.
  */
case class GramHashes(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"gram_hashes needs w >= 1, got $w")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(GraftImpl.gramHashes(input.asInstanceOf[ArrayData], w))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" +
      s".fromPrimitiveArray(graft.functions.GraftImpl.gramHashes($c, $w))")
  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
  override def prettyName: String = "gram_hashes"
}

/** drop_spans(words, spans): the words outside every span [s, e) of an
  * ARRAY<STRUCT<s: BIGINT, e: BIGINT>>, joined with ' ' (qd14/qt38's
  * rebuild). Null spans keep every word, so a doc with no span comes back
  * as array_join(words, ' '); null for null words.
  */
case class DropSpans(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = left.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val words = left.eval(input)
    if (words == null) null
    else GraftImpl.dropSpans(words.asInstanceOf[ArrayData],
      right.eval(input).asInstanceOf[ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = left.genCode(ctx)
    val sp = right.genCode(ctx)
    ev.copy(code = code"""
      ${w.code}
      ${sp.code}
      boolean ${ev.isNull} = ${w.isNull};
      org.apache.spark.unsafe.types.UTF8String ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.GraftImpl.dropSpans(${w.value},
          ${sp.isNull} ? null : ${sp.value});
      }
    """)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DropSpans =
    copy(left = l, right = r)
  override def prettyName: String = "drop_spans"
}

/** c4_line_clean(doc_id, text, meanLen, minWords, block, minLines): qt26's
  * C4 line battery in one pass (see GraftImpl.c4LineClean) — STRUCT(n_lines,
  * n_rule_dropped, n_dup_dropped, n_kept, kept, clean_text). Null for null
  * text; a null doc_id breaks no line.
  */
case class C4LineClean(left: Expression, right: Expression, meanLen: Int,
    minWords: Int, block: String, minLines: Int) extends BinaryExpression {
  require(meanLen >= 1, s"c4_line_clean needs meanLen >= 1, got $meanLen")
  require(block != null, "c4_line_clean needs a blocklist token")
  @transient private lazy val blockUtf8 = UTF8String.fromString(block)
  override def dataType: DataType = StructType(
    Seq("n_lines", "n_rule_dropped", "n_dup_dropped", "n_kept")
      .map(f => StructField(f, LongType, nullable = false)) ++ Seq(
      StructField("kept", IntegerType, nullable = false),
      StructField("clean_text", StringType, nullable = false)))
  override def nullable: Boolean = right.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val text = right.eval(input)
    if (text == null) null
    else GraftImpl.c4LineClean(left.eval(input).asInstanceOf[UTF8String],
      text.asInstanceOf[UTF8String], meanLen, minWords, blockUtf8, minLines)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val blockRef = ctx.addReferenceObj("c4Block", blockUtf8,
      "org.apache.spark.unsafe.types.UTF8String")
    val d = left.genCode(ctx)
    val t = right.genCode(ctx)
    ev.copy(code = code"""
      ${d.code}
      ${t.code}
      boolean ${ev.isNull} = ${t.isNull};
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.GraftImpl.c4LineClean(
          ${d.isNull} ? null : ${d.value}, ${t.value}, $meanLen, $minWords,
          $blockRef, $minLines);
      }
    """)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): C4LineClean =
    copy(left = l, right = r)
  override def prettyName: String = "c4_line_clean"
}

/** island_spans(hits, w, minLen): the island fold of one doc's hit
  * positions, ARRAY<INT> in any order (collect_list them grouped by
  * doc_id). Hits p < p' chain when p' - p <= w; an island spans
  * [first, last + w) and is kept when it covers >= minLen tokens.
  * STRUCT(n_spans, removed_tokens, spans: ARRAY<STRUCT<s, e>> ascending) —
  * the lag/sum gaps-and-islands windows, their sort and the per-island and
  * per-doc aggregates in one pass over each doc's hits.
  */
case class IslandSpans(child: Expression, w: Int, minLen: Int) extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"island_spans takes ARRAY<INT> positions, got ${t.simpleString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_spans", LongType, nullable = false),
    StructField("removed_tokens", LongType, nullable = false),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("s", LongType, nullable = false),
      StructField("e", LongType, nullable = false))), containsNull = false),
      nullable = false)))
  override protected def nullSafeEval(input: Any): Any =
    GraftImpl.islandSpans(input.asInstanceOf[ArrayData], w, minLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftImpl.islandSpans($c, $w, $minLen)")
  override protected def withNewChildInternal(newChild: Expression): IslandSpans =
    copy(child = newChild)
  override def prettyName: String = "island_spans"
}

/** ac_scan(text, phrases): Aho–Corasick multi-phrase substring scan —
  * STRUCT(n_hits, n_phrases) per row in one O(|text| + matches) pass.
  * The automaton is built once from the literal phrase list and rides the
  * plan's reference array to executors. SQL form takes the phrases as one
  * '|'-joined string literal.
  */
case class AcScan(child: Expression, phrases: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_hits", LongType, nullable = false),
    StructField("n_phrases", LongType, nullable = false)))
  @transient private lazy val ac = new AcAutomaton(phrases.toArray)
  override protected def nullSafeEval(input: Any): Any =
    GraftImpl.acScan(input.asInstanceOf[UTF8String], ac)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acRef = ctx.addReferenceObj("acAutomaton", ac,
      "graft.functions.AcAutomaton")
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftImpl.acScan($c, $acRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): AcScan =
    copy(child = newChild)
  override def prettyName: String = "ac_scan"
}

/** Column-level entry points. Functions register themselves in the active
  * session's registry on first use (temp functions, also callable from SQL).
  */
object GraftFunctions {

  /** Every graft function: its SQL name, its expression class (for the
    * extension path's `ExpressionInfo`) and its builder. [[register]] and
    * `graft.spark.GraftExtensions` both register exactly this list.
    */
  private[graft] val Functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("simhash64", classOf[SimHash64], exprs => SimHash64(exprs.head)),
    ("cosine_ff", classOf[CosineSimilarity],
      exprs => CosineSimilarity(exprs(0), exprs(1))),
    ("word_shingles", classOf[WordShingles],
      exprs => WordShingles(exprs(0), intLit(exprs(1)))),
    ("jaccard_sorted", classOf[JaccardSorted],
      exprs => JaccardSorted(exprs(0), exprs(1))),
    ("minhash_sig", classOf[MinHashSig],
      exprs => MinHashSig(exprs(0), intLit(exprs(1)))),
    ("srp_sigs", classOf[SrpSigs],
      exprs => SrpSigs(exprs(0), intLit(exprs(1)), intLit(exprs(2)))),
    ("cms_sketch", classOf[CmsSketch],
      exprs => CmsSketch(exprs(0), intLit(exprs(1)), intLit(exprs(2)))
        .toAggregateExpression()),
    ("kmv_sketch", classOf[KmvSketch],
      exprs => KmvSketch(exprs(0), intLit(exprs(1))).toAggregateExpression()),
    ("hll_sketch", classOf[HllSketch],
      exprs => HllSketch(exprs(0), intLit(exprs(1))).toAggregateExpression()),
    ("hll_merge", classOf[HllMerge],
      exprs => HllMerge(exprs(0), intLit(exprs(1))).toAggregateExpression()),
    ("minhash_affine", classOf[MinHashAffine],
      exprs => MinHashAffine(exprs(0), intLit(exprs(1)))),
    ("top_k_rank", classOf[TopKRankAgg],
      exprs => TopKRankAgg(exprs(0), exprs(1), intLit(exprs(2))).toAggregateExpression()),
    ("repetition_profile", classOf[RepetitionProfile],
      exprs => RepetitionProfile(exprs.head)),
    ("char_entropy", classOf[CharEntropy], exprs => CharEntropy(exprs.head)),
    ("script_profile", classOf[ScriptProfile], exprs => ScriptProfile(exprs.head)),
    ("dot_i64", classOf[DotI64], exprs => DotI64(exprs(0), exprs(1))),
    ("dot_ff", classOf[DotFF], exprs => DotFF(exprs(0), exprs(1))),
    ("gopher_repetition", classOf[GopherRepetition],
      exprs => GopherRepetition(exprs(0), exprs(1))),
    ("winnow_fps", classOf[WinnowFps],
      exprs => WinnowFps(exprs(0), intLit(exprs(1)), intLit(exprs(2)))),
    ("gram_hashes", classOf[GramHashes], exprs => GramHashes(exprs(0), intLit(exprs(1)))),
    ("drop_spans", classOf[DropSpans], exprs => DropSpans(exprs(0), exprs(1))),
    ("island_spans", classOf[IslandSpans],
      exprs => IslandSpans(exprs(0), intLit(exprs(1)), intLit(exprs(2)))),
    ("c4_line_clean", classOf[C4LineClean],
      exprs => C4LineClean(exprs(0), exprs(1), intLit(exprs(2)), intLit(exprs(3)),
        strLit(exprs(4)), intLit(exprs(5)))),
    ("bpe_merge", classOf[BpeMerge], exprs => BpeMerge(exprs(0), exprs(1), exprs(2))),
    ("ac_scan", classOf[AcScan],
      exprs => AcScan(exprs(0), splitPhrases(strLit(exprs(1))))),
    ("graft_lower", classOf[CaseMap], exprs => CaseMap(exprs.head, upper = false)),
    ("graft_upper", classOf[CaseMap], exprs => CaseMap(exprs.head, upper = true)),
    ("partition_counters", classOf[PartitionCounters],
      exprs => PartitionCounters(exprs.head, exprs.tail).toAggregateExpression()))

  /** (Re)registers every graft function as a temp function of `spark`. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    Functions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  private[graft] def intLit(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"expected int literal, got $other")
  }

  private[graft] def strLit(e: Expression): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: UTF8String, _) =>
      v.toString
    case other =>
      throw new IllegalArgumentException(s"expected string literal, got $other")
  }

  private[graft] def splitPhrases(joined: String): Seq[String] =
    joined.split('|').toSeq

  /** Registers the functions in the active session unless its registry
    * already has them all (registered before, or injected by
    * `GraftExtensions`): re-registering replaced each one, with a Spark
    * warning per function, on every wrapper call. A `newSession()` starts
    * from the built-in registry, so it registers on its first call.
    */
  private def ensureRegistered(): Unit = {
    val spark = SparkSession.active
    val reg = spark.sessionState.functionRegistry
    if (!Functions.forall { case (name, _, _) => reg.functionExists(FunctionIdentifier(name)) })
      register(spark)
  }

  def simhash64(c: Column): Column = { ensureRegistered(); call_function("simhash64", c) }

  def cosineFF(a: Column, b: Column): Column = {
    ensureRegistered(); call_function("cosine_ff", a, b)
  }

  def wordShingles(text: Column, w: Int): Column = {
    ensureRegistered()
    call_function("word_shingles", text, org.apache.spark.sql.functions.lit(w))
  }

  def jaccardSorted(a: Column, b: Column): Column = {
    ensureRegistered(); call_function("jaccard_sorted", a, b)
  }

  def minhashSig(shingles: Column, k: Int): Column = {
    ensureRegistered()
    call_function("minhash_sig", shingles, org.apache.spark.sql.functions.lit(k))
  }

  def srpSigs(vec: Column, tables: Int, bits: Int): Column = {
    ensureRegistered()
    call_function("srp_sigs", vec, org.apache.spark.sql.functions.lit(tables),
      org.apache.spark.sql.functions.lit(bits))
  }

  def cmsSketch(item: Column, depth: Int, width: Int): Column = {
    ensureRegistered()
    call_function("cms_sketch", item, org.apache.spark.sql.functions.lit(depth),
      org.apache.spark.sql.functions.lit(width))
  }

  def kmvSketch(item: Column, k: Int): Column = {
    ensureRegistered()
    call_function("kmv_sketch", item, org.apache.spark.sql.functions.lit(k))
  }

  def hllSketch(item: Column, m: Int): Column = {
    ensureRegistered()
    call_function("hll_sketch", item, org.apache.spark.sql.functions.lit(m))
  }

  def hllMerge(registers: Column, m: Int): Column = {
    ensureRegistered()
    call_function("hll_merge", registers, org.apache.spark.sql.functions.lit(m))
  }

  def minhashAffine(shingles: Column, lanes: Int): Column = {
    ensureRegistered()
    call_function("minhash_affine", shingles, org.apache.spark.sql.functions.lit(lanes))
  }

  def repetitionProfile(text: Column): Column = {
    ensureRegistered(); call_function("repetition_profile", text)
  }

  def dotI64(a: Column, b: Column): Column = {
    ensureRegistered(); call_function("dot_i64", a, b)
  }

  /** Exact int64 squared-L2 distances from `v` to literal centroids, as an
    * array of (dist, `id`) structs, one per (id, centroid): dist =
    * |v|^2 - 2 v.c + |c|^2 via dot_i64 against the centroid's array
    * literal, with `v2` = |v|^2 (a column where the caller keeps one).
    * `array_min` of it is the nearest centroid, ties to the smaller id
    * (struct order); `array_sort` ranks them all.
    */
  def centroidDists(v: Column, v2: Column, cents: Seq[(Any, Array[Long])],
      id: String = "cid"): Column = {
    import org.apache.spark.sql.functions.{array, lit, struct, typedlit}
    array(cents.map { case (cid, cv) =>
      struct(
        (v2 - lit(2L) * dotI64(v, typedlit(cv.toSeq))
          + lit(cv.foldLeft(0L)((acc, x) => acc + x * x))).as("dist"),
        lit(cid).as(id))
    }: _*)
  }

  def dotFF(a: Column, b: Column): Column = {
    ensureRegistered(); call_function("dot_ff", a, b)
  }

  def gopherRepetition(docId: Column, text: Column): Column = {
    ensureRegistered(); call_function("gopher_repetition", docId, text)
  }

  def charEntropy(text: Column): Column = {
    ensureRegistered(); call_function("char_entropy", text)
  }

  def scriptProfile(text: Column): Column = {
    ensureRegistered(); call_function("script_profile", text)
  }

  def winnowFps(words: Column, k: Int, win: Int): Column = {
    ensureRegistered()
    call_function("winnow_fps", words,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(win))
  }

  def gramHashes(words: Column, w: Int): Column = {
    ensureRegistered()
    call_function("gram_hashes", words, org.apache.spark.sql.functions.lit(w))
  }

  def dropSpans(words: Column, spans: Column): Column = {
    ensureRegistered(); call_function("drop_spans", words, spans)
  }

  def islandSpans(hits: Column, w: Int, minLen: Int): Column = {
    ensureRegistered()
    call_function("island_spans", hits, org.apache.spark.sql.functions.lit(w),
      org.apache.spark.sql.functions.lit(minLen))
  }

  def c4LineClean(docId: Column, text: Column, meanLen: Int, minWords: Int,
      block: String, minLines: Int): Column = {
    import org.apache.spark.sql.functions.lit
    ensureRegistered()
    call_function("c4_line_clean", docId, text, lit(meanLen), lit(minWords),
      lit(block), lit(minLines))
  }

  def bpeMerge(syms: Column, l: Column, r: Column): Column = {
    ensureRegistered(); call_function("bpe_merge", syms, l, r)
  }

  /** Bounded top-k-per-group aggregate: callers cast key to double and
    * payload to long (the aggregate's fixed heap-entry shape).
    */
  def topKRank(sortKey: Column, payload: Column, k: Int): Column = {
    ensureRegistered()
    call_function("top_k_rank", sortKey.cast("double"), payload.cast("long"),
      org.apache.spark.sql.functions.lit(k))
  }

  /** Spark's `lower` without its class-init stall; graft code calls this. */
  def lower(s: Column): Column = { ensureRegistered(); call_function("graft_lower", s) }

  /** Spark's `upper` without its class-init stall; graft code calls this. */
  def upper(s: Column): Column = { ensureRegistered(); call_function("graft_upper", s) }

  /** 2^61-1: the modulus of the md5-affine lanes and content fingerprints. */
  final val Mersenne61 = 2305843009213693951L

  /** The portable 60-bit md5 key of `s`: the first 15 hex digits of md5(s)
    * as a long, which DuckDB computes as
    * CAST('0x' || substr(md5(s), 1, 15) AS BIGINT). */
  def md5Hi60(s: Column): Column = md5Hex60(s, 1)

  /** The second 60-bit md5 lane of `s`: hex digits 16 to 30 of md5(s). */
  def md5Lo60(s: Column): Column = md5Hex60(s, 16)

  private def md5Hex60(s: Column, from: Int): Column = {
    import org.apache.spark.sql.functions.{conv, md5, substring}
    conv(substring(md5(s), from, 15), 16, 10).cast("long")
  }

  /** Per-partition-id sums and maxes of integral counters (an aggregate). */
  def partitionCounters(partitionId: Column, counters: Column*): Column = {
    ensureRegistered(); call_function("partition_counters", partitionId +: counters: _*)
  }

  /** Multi-phrase blocklist scan; phrases must not contain '|' (the SQL
    * form's join separator).
    */
  def acScan(text: Column, phrases: Seq[String]): Column = {
    require(phrases.forall(!_.contains('|')),
      "ac_scan phrases must not contain '|'")
    ensureRegistered()
    call_function("ac_scan", text,
      org.apache.spark.sql.functions.lit(phrases.mkString("|")))
  }
}
