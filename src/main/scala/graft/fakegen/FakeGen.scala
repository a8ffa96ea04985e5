package graft.fakegen

import java.nio.charset.StandardCharsets

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic fake-data generators.
  *
  * Replicates the reference's load-bearing determinism contract
  * (rustic-transformator/src/transformator.rs:94-99,122-144): every fake
  * cell value is a pure function of `(original cell value, global seed)`.
  * Same input value + same seed => same fake output, across runs, columns,
  * partitions, and task retries. This preserves referential integrity for
  * anonymized join keys (e.g. an email used as an FK fakes identically in
  * every table) and makes the generators safe under Spark speculation.
  *
  * The reference seeds a SipHash-based RNG; the *contract* (stable
  * value->output mapping) is what matters, not the hash family
  * (SURVEY.md §7.2). We use FNV-1a 64 over UTF-8 bytes, finalized and
  * mixed with the global seed via SplitMix64 — stable, dependency-free,
  * and fast enough to live inside whole-stage codegen.
  *
  * Divergence (documented in SURVEY.md §7 hard-parts #1): the reference's
  * `fake_phone` and `fake_multi_email` draw from a *sequential* RNG so
  * their output depends on row order — unreproducible under partitioned
  * execution. Here they are value-seeded like every other generator
  * (strictly better: deterministic AND order-independent), while keeping
  * the per-digit "differs from original" guarantee
  * (fake_phone_transformator.rs:29-35).
  */
object FakeGen {

  /** Default global seed, matching the reference's RNG_SEED default
    * (anonymization_dataframe_operator.rs:442-447). */
  final val DefaultSeed = 42L

  // ---- seeding ----------------------------------------------------------

  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  /** FNV-1a 64-bit over the `len` bytes at `base`/`offset` (Spark's
    * `Platform` addressing), read in place. */
  private def fnv1a(base: AnyRef, offset: Long, len: Int): Long = {
    var h = FnvOffset
    var i = 0
    while (i < len) {
      h ^= (Platform.getByte(base, offset + i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** FNV-1a 64-bit over UTF-8 bytes. Stable across JVMs/platforms. */
  def hash64(bytes: Array[Byte], offset: Int, len: Int): Long =
    fnv1a(bytes, Platform.BYTE_ARRAY_OFFSET + offset, len)

  def hash64(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    hash64(b, 0, b.length)
  }

  /** SplitMix64 finalizer — strong 64-bit avalanche. */
  @inline def mix64(x0: Long): Long = {
    var x = x0
    x ^= (x >>> 30); x *= 0xbf58476d1ce4e5b9L
    x ^= (x >>> 27); x *= 0x94d049bb133111ebL
    x ^= (x >>> 31)
    x
  }

  /** Per-cell seed: the hash of the value's UTF-8 bytes, read in place,
    * combined with the global seed (transformator.rs:128-144 analog). */
  private def cellSeed(base: AnyRef, offset: Long, len: Int, globalSeed: Long): Long =
    mix64(fnv1a(base, offset, len) ^ mix64(globalSeed))

  private def cellSeed(value: UTF8String, globalSeed: Long): Long =
    cellSeed(value.getBaseObject, value.getBaseOffset, value.numBytes, globalSeed)

  /** Tiny deterministic RNG stream (SplitMix64). Allocation-free usage:
    * callers hold the state as a local Long and call `next`. */
  @inline def next(state: Long): Long = mix64(state + 0x9e3779b97f4a7c15L)

  /** Bounded draw without modulo bias worth caring about at n<<2^32. */
  @inline def draw(r: Long, n: Int): Int = {
    val v = (r >>> 33).toInt % n
    if (v < 0) v + n else v
  }

  // ---- output assembly --------------------------------------------------
  // Every kernel builds its output as UTF-8 bytes in one exact-size array
  // (a single wordlist entry is returned as the shared array: UTF8String
  // never writes to its bytes). The writers below copy into `out` at `at`
  // and return the end; with `out == null` they only measure.

  private def put(w: Array[Byte], out: Array[Byte], at: Int): Int = {
    if (out != null) System.arraycopy(w, 0, out, at, w.length)
    at + w.length
  }

  private def put(b: Char, out: Array[Byte], at: Int): Int = {
    if (out != null) out(at) = b.toByte
    at + 1
  }

  /** Decimal digits of `n >= 0`. */
  private def putInt(n: Int, out: Array[Byte], at: Int): Int = {
    var end = at + 1
    var x = n
    while (x >= 10) { x /= 10; end += 1 }
    if (out != null) {
      x = n
      var i = end - 1
      while (i >= at) { out(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
    }
    end
  }

  /** `a + " " + b`. */
  private def spaced(a: Array[Byte], b: Array[Byte]): UTF8String = {
    val out = new Array[Byte](a.length + 1 + b.length)
    put(b, out, put(' ', out, put(a, out, 0)))
    UTF8String.fromBytes(out)
  }

  /** `String.length <= 1` (UTF-16 units) of valid UTF-8: empty, or one
    * code point of at most 3 bytes (a 4-byte one is a surrogate pair). */
  private def atMostOneUtf16Unit(value: UTF8String): Boolean = {
    val n = value.numBytes
    n == 0 || (n < 4 && UTF8String.numBytesForFirstByte(value.getByte(0)) == n)
  }

  // ---- generator kernels ------------------------------------------------
  // Each takes the ORIGINAL cell value (valid UTF-8, see `dispatch`) or its
  // cell seed, plus the global seed, and returns the fake. All are total
  // functions (no exceptions) and null-intolerant (callers handle null via
  // expression null-propagation).

  private def firstNameIndex(cs: Long): Int = draw(cs, Wordlists.firstNames.length)

  // Domain-separate from firstName so fullName's parts look independent.
  private def lastNameIndex(cs: Long): Int =
    draw(next(cs ^ 0x1337L), Wordlists.lastNames.length)

  private def companyName(cs: Long): UTF8String = {
    var s = cs ^ 0xc0c0L
    s = next(s); val stem = Wordlists.companyStemsUtf8(draw(s, Wordlists.companyStems.length))
    s = next(s); val suffix = Wordlists.companySuffixesUtf8(draw(s, Wordlists.companySuffixes.length))
    spaced(stem, suffix)
  }

  /** Safe fake email: first.last{NN}@example.{com|org|net} — never a real
    * deliverable domain (RFC 2606 reserved), like the reference's faker
    * `safe_email` (transformator.rs:31). Written at `at` (see `put`). */
  private def writeEmail(cs: Long, out: Array[Byte], at: Int): Int = {
    var s = cs ^ 0xe4a11L
    s = next(s); val fn = Wordlists.firstNamesLowerUtf8(draw(s, Wordlists.firstNames.length))
    s = next(s); val ln = Wordlists.lastNamesLowerUtf8(draw(s, Wordlists.lastNames.length))
    s = next(s); val num = draw(s, 100)
    s = next(s); val dom = Wordlists.emailDomainsUtf8(draw(s, Wordlists.emailDomains.length))
    var p = put(ln, out, put('.', out, put(fn, out, at)))
    if (num < 50) p = putInt(num, out, p) // ~half get a numeric suffix, like faker
    put(dom, out, put('@', out, p))
  }

  private def email(cs: Long): UTF8String = {
    val out = new Array[Byte](writeEmail(cs, null, 0))
    writeEmail(cs, out, 0)
    UTF8String.fromBytes(out)
  }

  /** Composite address: "<bldg> <street> <zip> <city> <postcode>" — the
    * reference assembles 4 faker parts (transformator.rs:33-39). */
  private def address(cs: Long): UTF8String = {
    var s = cs ^ 0xadd12L
    s = next(s); val bldg = 1 + draw(s, 9999)
    s = next(s); val street = Wordlists.streetsUtf8(draw(s, Wordlists.streets.length))
    s = next(s); val zip = 10000 + draw(s, 89999)
    s = next(s); val city = Wordlists.citiesUtf8(draw(s, Wordlists.cities.length))
    s = next(s); val postcode = 10000 + draw(s, 89999)
    // 14 = four spaces + the 5-digit zip and postcode
    val out = new Array[Byte](putInt(bldg, null, 0) + street.length + city.length + 14)
    var p = put(' ', out, putInt(bldg, out, 0))
    p = put(' ', out, put(street, out, p))
    p = put(' ', out, putInt(zip, out, p))
    p = put(' ', out, put(city, out, p))
    putInt(postcode, out, p)
    UTF8String.fromBytes(out)
  }

  private val HexDigits = "0123456789abcdef".getBytes(StandardCharsets.US_ASCII)

  /** The low `n` hex digits of `x`, lowercase, at `at`. */
  private def putHex(x: Long, n: Int, out: Array[Byte], at: Int): Unit = {
    var v = x
    var i = at + n - 1
    while (i >= at) { out(i) = HexDigits((v & 0xf).toInt); v >>>= 4; i -= 1 }
  }

  /** "fake_md5" in the reference actually emits a UUIDv4 string
    * (transformator.rs:40,60). Deterministic per cell here; laid out as
    * `java.util.UUID.toString` (8-4-4-4-12 lowercase hex). */
  private def uuid(cs: Long): UTF8String = {
    var s = cs ^ 0x3d5L
    s = next(s); val hi = (s & ~0x000000000000f000L) | 0x0000000000004000L // version 4
    s = next(s); val lo = (s & ~0xc000000000000000L) | 0x8000000000000000L // variant 10
    val out = new Array[Byte](36)
    putHex(hi >>> 32, 8, out, 0); out(8) = '-'.toByte
    putHex(hi >>> 16, 4, out, 9); out(13) = '-'.toByte
    putHex(hi, 4, out, 14); out(18) = '-'.toByte
    putHex(lo >>> 48, 4, out, 19); out(23) = '-'.toByte
    putHex(lo, 12, out, 24)
    UTF8String.fromBytes(out)
  }

  /** Per-character digit scramble: every ASCII digit is replaced by a
    * *different* digit; non-digits (formatting: '+', spaces, dashes) kept;
    * strings of length <= 1 returned unchanged
    * (fake_phone_transformator.rs:14-62). Value-seeded (divergence above).
    * An ASCII digit is one byte in UTF-8 and no byte of a multi-byte
    * sequence is below 0x80, so scanning bytes visits the same digits. */
  private def phone(value: UTF8String, seed: Long): UTF8String = {
    if (atMostOneUtf16Unit(value)) return value
    var s = cellSeed(value, seed) ^ 0x9403eL
    val out = new Array[Byte](value.numBytes) // a copy: never write into the input's bytes
    value.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET)
    var i = 0
    while (i < out.length) {
      val c = out(i)
      if (c >= '0' && c <= '9') {
        s = next(s)
        // draw from the 9 digits != original => guaranteed different
        val d = draw(s, 9)
        val orig = c - '0'
        val repl = if (d >= orig) d + 1 else d
        out(i) = ('0' + repl).toByte
      }
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Postgres-array-literal email rewrite: "{a,b,c}" -> "{f1,f2,f3}" with
    * each element faked independently (seeded by the ELEMENT value, so the
    * same address fakes identically here and in scalar email columns).
    * Elements are split on every ',' (empty ones kept, as `split(",", -1)`)
    * and trimmed of chars <= U+0020 (as `String.trim`).
    * Length <= 1 returned unchanged (fake_multi_email_transformator.rs:15-54).
    * A longer NON-braced value is treated as one address and faked —
    * an anonymization primitive must FAIL CLOSED: passing a malformed
    * or bare scalar through verbatim would leak the original PII. */
  private def multiEmail(value: UTF8String, seed: Long): UTF8String = {
    if (atMostOneUtf16Unit(value)) return value
    val n = value.numBytes
    if (value.getByte(0) != '{' || value.getByte(n - 1) != '}')
      return email(cellSeed(value, seed))
    if (n == 2) return value // "{}"
    val base = value.getBaseObject
    val off = value.getBaseOffset
    var parts = 1
    var i = 1
    while (i < n - 1) { if (value.getByte(i) == ',') parts += 1; i += 1 }
    val seeds = new Array[Long](parts)
    var k = 0
    var start = 1
    i = 1
    while (i < n) {
      if (i == n - 1 || value.getByte(i) == ',') {
        var a = start
        var b = i
        while (a < b && (value.getByte(a) & 0xff) <= 0x20) a += 1
        while (b > a && (value.getByte(b - 1) & 0xff) <= 0x20) b -= 1
        seeds(k) = cellSeed(base, off + a, b - a, seed)
        k += 1
        start = i + 1
      }
      i += 1
    }
    var len = parts + 1 // the braces and the commas between parts
    k = 0
    while (k < parts) { len += writeEmail(seeds(k), null, 0); k += 1 }
    val out = new Array[Byte](len)
    var p = put('{', out, 0)
    k = 0
    while (k < parts) {
      if (k > 0) p = put(',', out, p)
      p = writeEmail(seeds(k), out, p)
      k += 1
    }
    put('}', out, p)
    UTF8String.fromBytes(out)
  }

  // ---- dispatch (called from generated code) ----------------------------

  final val KindFirstName = 0
  final val KindLastName = 1
  final val KindFullName = 2
  final val KindCompany = 3
  final val KindEmail = 4
  final val KindAddress = 5
  final val KindUuid = 6
  final val KindPhone = 7
  final val KindMultiEmail = 8

  /** Single static entry point used by the codegen'd Catalyst expression
    * (graft.functions.FakeExpr). Works on the cell's UTF-8 bytes in place:
    * the value is hashed where it lies and the fake is assembled as bytes,
    * with no `String` decode or encode per cell.
    *
    * Invalid UTF-8 is first replaced by its `String` round trip (each
    * malformed sequence becomes U+FFFD, as `toString` decodes it), so a
    * cell fakes the same as its decoded `String` would. Spark's `isValid`
    * and that round trip agree on which inputs need it. */
  def dispatch(kind: Int, value: UTF8String, seed: Long): UTF8String = {
    val v = if (value.isValid) value else UTF8String.fromString(value.toString)
    (kind: @annotation.switch) match {
      case KindFirstName =>
        UTF8String.fromBytes(Wordlists.firstNamesUtf8(firstNameIndex(cellSeed(v, seed))))
      case KindLastName =>
        UTF8String.fromBytes(Wordlists.lastNamesUtf8(lastNameIndex(cellSeed(v, seed))))
      case KindFullName =>
        val cs = cellSeed(v, seed)
        spaced(Wordlists.firstNamesUtf8(firstNameIndex(cs)),
               Wordlists.lastNamesUtf8(lastNameIndex(cs)))
      case KindCompany    => companyName(cellSeed(v, seed))
      case KindEmail      => email(cellSeed(v, seed))
      case KindAddress    => address(cellSeed(v, seed))
      case KindUuid       => uuid(cellSeed(v, seed))
      case KindPhone      => phone(v, seed)
      case KindMultiEmail => multiEmail(v, seed)
    }
  }

  // ---- String entry points ----------------------------------------------
  // For callers outside Spark's row format; each is `dispatch` on the
  // value's UTF-8 encoding, so both faces give the same fake.

  private def fakeString(kind: Int, value: String, seed: Long): String =
    dispatch(kind, UTF8String.fromString(value), seed).toString

  def firstName(value: String, seed: Long): String = fakeString(KindFirstName, value, seed)
  def lastName(value: String, seed: Long): String = fakeString(KindLastName, value, seed)
  def fullName(value: String, seed: Long): String = fakeString(KindFullName, value, seed)
  def companyName(value: String, seed: Long): String = fakeString(KindCompany, value, seed)
  def email(value: String, seed: Long): String = fakeString(KindEmail, value, seed)
  def address(value: String, seed: Long): String = fakeString(KindAddress, value, seed)
  def uuid(value: String, seed: Long): String = fakeString(KindUuid, value, seed)
  def phone(value: String, seed: Long): String = fakeString(KindPhone, value, seed)
  def multiEmail(value: String, seed: Long): String = fakeString(KindMultiEmail, value, seed)
}
