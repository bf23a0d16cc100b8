package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.collection.mutable

/** Per-document output sinks: the in-memory analogue of the reference's
  * seven output files (/root/reference/pdf/output.go:12-21) plus the
  * embedded-file dump (output.go:93-104). Used executor-side only.
  */
final class DocSink {
  import java.io.ByteArrayOutputStream
  val commands = new ByteArrayOutputStream()
  val errors = new ByteArrayOutputStream()
  val files = new ByteArrayOutputStream()
  val javascript = new ByteArrayOutputStream()
  val raw = new ByteArrayOutputStream()
  val text = new ByteArrayOutputStream()
  val urls = new ByteArrayOutputStream()
  /** (md5hex, manifest-name, payload) per dumped file. */
  val embedded = mutable.ArrayBuffer.empty[(String, String, Array[Byte])]

  def writeLine(sink: ByteArrayOutputStream, bytes: Array[Byte]): Unit = {
    sink.write(bytes); sink.write('\n')
  }
  def writeLine(sink: ByteArrayOutputStream, s: String): Unit =
    writeLine(sink, s.getBytes(ISO_8859_1))

  /** output.go:106-110 */
  def error(message: String): Unit = writeLine(errors, message)

  /** output.go:93-104: manifest line "md5:name" + blob stored under md5. */
  def dumpFile(name: String, data: Array[Byte]): Unit = {
    val md5sum = Crypto.hex(Crypto.md5(data))
    writeLine(files, md5sum + ":" + name)
    embedded += ((md5sum, name, data))
  }
}

private object Sentinel {
  val None = 0
  val ReadError = 1
  val EndOfArray = 2
  val EndOfString = 3
  val EndOfDictionary = 4
  val EndOfHexString = 5
}

/** Recursive-descent PDF parser over an in-memory byte array, replicating
  * /root/reference/pdf/parser.go exactly (including its quirks — see
  * SURVEY.md §7.4). One instance per document payload; nested instances are
  * created for content streams and CMaps (with a null sink, so their
  * abnormalities are dropped, as in pdf/page.go:37 and pdf/font.go:23).
  *
  * The reference streams via bufio over a seeker; payloads here are row-sized
  * binary column values already in memory, so an index into the array is both
  * simpler and faster. All offsets are byte-exact.
  */
final class PdfParser(val data: Array[Byte], val output: DocSink) {
  var pos: Int = 0
  val xref: mutable.LinkedHashMap[Int, XrefEntry] = mutable.LinkedHashMap.empty
  val trailer: PDict = PDict.empty
  val securityHandler = new SecurityHandler

  // metrics channel (extraction metrics table feed)
  var nObjectsFetched: Long = 0
  var nStreamsDecoded: Long = 0
  val filtersApplied: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty

  // Object-fetch memoization. The reference re-parses an object on every
  // GetObject (pdf/parser.go:370, no cache), which makes shared dicts
  // (fonts, resources) O(refs x size). Post-load fetches are pure functions
  // of the object number, EXCEPT that parse abnormalities are logged to the
  // error sink per fetch — so the cache records the error lines emitted
  // during the first fetch and replays them on every hit, keeping the error
  // channel byte-identical to the re-parsing reference. Caching stays OFF
  // during load(): the security handler resolves /Encrypt's O/U/ID before
  // the document key exists, and those raw reads must not be reused after
  // decryption is armed.
  private var cachingEnabled = false

  /** Mirrors Go's `parser.security_handler != nil`: set only after a
    * successful /Encrypt init, so string/stream decryption and the /Crypt
    * override never run on unencrypted documents (parser.go:385,424). */
  private var securityActive = false

  /** Opt-in object-stream (type-2) expansion — see the Compressed case in
    * fetchObject. Default false = reference parity (compressed -> null). */
  var expandObjectStreams: Boolean = false
  private val compressedInProgress = mutable.HashSet.empty[Int]
  private val fetchInProgress = mutable.HashSet.empty[Int]

  /** The parser whose xref resolves references parsed here. A nested
    * /ObjStm body parser reads bytes from the container stream but its
    * objects' references point at the DOCUMENT's objects, so the outer
    * parser sets itself here. Everywhere else the default (this parser)
    * matches the reference: a stray `N G R` in a nested content-stream /
    * cmap parser resolves against that nested parser's EMPTY xref and
    * degrades to null, exactly as Go's nested NewParser does. */
  private[pdf] var refParser: PdfParser = this
  private val objectCache = mutable.HashMap.empty[Int, (IndirectObject, Array[Byte])]

  private val len = data.length

  // ---- low-level byte ops (bufio.Reader analogue) ----

  @inline private def readByte(): Int =
    if (pos < len) { val b = data(pos) & 0xff; pos += 1; b } else -1

  /** Go UnreadByte after a successful read; no-op after EOF (pass b == -1). */
  @inline private def unread(b: Int): Unit = if (b != -1) pos -= 1

  def seek(offset: Long): Unit =
    if (offset >= 0) pos = math.min(offset, len.toLong).toInt

  @inline def currentOffset: Long = pos.toLong

  @inline private def isWs(b: Int): Boolean =
    b == 0x00 || b == '\t' || b == '\n' || b == '\f' || b == '\r' || b == ' '

  @inline private def isDelim(b: Int): Boolean =
    b == '(' || b == ')' || b == '<' || b == '>' || b == '[' || b == ']' || b == '/' || b == '%'

  @inline private def isDigit(b: Int): Boolean = b >= '0' && b <= '9'

  private def logError(message: String): Unit =
    if (output != null) output.error(message)

  // ---- Load phase (parser.go:33-88) ----

  /** Returns null on success or the reference's error string (encryption). */
  def load(password: Array[Byte]): String = {
    val xrefOffsets = mutable.ArrayBuffer.empty[Long]
    xrefOffsets ++= findXrefOffsets()
    val objects = findObjects()

    // add xref stream offsets, then sort ascending
    objects.valuesIterator.foreach { o => if (o.isXrefStream) xrefOffsets += o.offset }
    val sorted = xrefOffsets.sorted
    // startxref offset appended last so it overrides earlier entries
    val all = getStartXrefOffset() match {
      case Some(off) => sorted :+ off
      case None      => sorted
    }

    // load all xrefs, each chain with a fresh dedup set (parser.go:54-56)
    all.foreach(off => loadXref(off, mutable.HashSet.empty[Long]))

    // repair broken and missing xref entries (parser.go:58-70); quirk: a
    // *valid* header at the xref offset is also replaced by the scanned
    // offset (`ok || n != object_number`, parser.go:63) => last obj wins
    objects.toSeq.sortBy(_._1).foreach { case (objectNumber, obj) =>
      xref.get(objectNumber) match {
        case Some(entry) =>
          seek(entry.offset)
          val (n, _, ok) = readObjectHeader()
          if (ok || n != objectNumber) entry.offset = obj.offset
        case None =>
          xref(objectNumber) = obj
      }
    }

    // set up the security handler if the pdf is encrypted
    if (trailer.entries.contains("Encrypt")) {
      trailer.entries("Encrypt") match {
        case r: PRef => xref.get(r.number).foreach(_.isEncrypted = false)
        case _       =>
      }
      val err = securityHandler.init(password, trailer)
      if (err != null) return err
      securityActive = true // Go: parser.security_handler != nil from here on
    }
    cachingEnabled = true
    null
  }

  /** parser.go:95-116 — every literal "xref" occurrence (this also matches
    * the tail of "startxref", as the reference's regex does). */
  private def findXrefOffsets(): Seq[Long] = {
    val offsets = mutable.ArrayBuffer.empty[Long]
    var from = 0
    var going = true
    while (going) {
      val i = indexOf("xref".getBytes(ISO_8859_1), from)
      if (i < 0) going = false
      else { offsets += i.toLong; from = i + 4 }
    }
    offsets.toSeq
  }

  private def indexOf(needle: Array[Byte], from: Int): Int = {
    var i = math.max(from, 0)
    val last = len - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && data(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  // ---- object-header scan (parser.go:15,119-154) ----
  // Implements Go regex `\d+([\s\x00]|(%[^\r\n]*))+\d+([\s\x00]|(%[^\r\n]*))+obj`
  // with Perl-order backtracking (greedy comment tails, more-reps-first) and
  // failure memoization so the scan stays near-linear.

  private def digitsEnd(i: Int): Int = {
    var j = i
    while (j < len && isDigit(data(j))) j += 1
    if (j > i) j else -1
  }

  // regex \s is [\t\n\f\r ]; the class adds \x00 — same set as PDF whitespace
  @inline private def isSepWs(b: Int): Boolean = isWs(b)

  /** One-or-more separators starting at i, then stage continuation.
    * stage 0: digits then separators then "obj"; stage 1: "obj". Returns the
    * match end or -1. failMemo prunes repeated failing states: bit i of
    * `failMemo(stage)` marks position i failed at that stage. */
  private def sepPlus(i: Int, stage: Int, failMemo: Array[java.util.BitSet]): Int = {
    if (failMemo(stage).get(i)) return -1
    var r = -1
    if (i < len && isSepWs(data(i))) {
      // collapse a maximal whitespace run: interior stops cannot be followed
      // by digits/"obj"/'%', so only the run end matters
      var k = i
      while (k < len && isSepWs(data(k))) k += 1
      r = afterSep(k, stage, failMemo)
    } else if (i < len && data(i) == '%') {
      var e = i + 1
      while (e < len && data(e) != '\r' && data(e) != '\n') e += 1
      var k = e // greedy: longest comment tail first
      while (k > i && r < 0) {
        r = afterSep(k, stage, failMemo)
        k -= 1
      }
    }
    if (r < 0) failMemo(stage).set(i)
    r
  }

  /** After >=1 separators: prefer more separators, else the continuation. */
  private def afterSep(j: Int, stage: Int, failMemo: Array[java.util.BitSet]): Int = {
    val r = sepPlus(j, stage, failMemo)
    if (r >= 0) return r
    if (stage == 0) {
      val d = digitsEnd(j)
      if (d < 0) -1 else sepPlus(d, 1, failMemo)
    } else {
      if (j + 3 <= len && data(j) == 'o' && data(j + 1) == 'b' && data(j + 2) == 'j') j + 3
      else -1
    }
  }

  /** Try the full header pattern anchored at `start`; returns end or -1. */
  private def matchObjHeader(start: Int, failMemo: Array[java.util.BitSet]): Int = {
    val d = digitsEnd(start)
    if (d < 0) -1 else sepPlus(d, 0, failMemo)
  }

  /** parser.go:119-154: scan for all object headers; last occurrence of an
    * object number wins (map overwrite at parser.go:140). */
  private def findObjects(): mutable.LinkedHashMap[Int, XrefEntry] = {
    val objects = mutable.LinkedHashMap.empty[Int, XrefEntry]
    var i = 0
    val failMemo = Array(new java.util.BitSet, new java.util.BitSet)
    while (i < len) {
      if (isDigit(data(i))) {
        val end = matchObjHeader(i, failMemo)
        if (end >= 0) {
          seek(i)
          val (n, g, _) = readObjectHeader()
          val entry = new XrefEntry(i, g, XrefType.Indirect)
          objects(n) = entry
          // determine if object is an xref stream
          val d = readDictionary(NoDecryptor)
          if (d.getName("Type").contains("XRef")) {
            entry.isXrefStream = true
            entry.isEncrypted = false
          }
          i = end
        } else {
          // skip the whole digit run: no match can start inside it
          i = digitsEnd(i)
        }
      } else i += 1
    }
    objects
  }

  /** parser.go:156-185: scan the last 256 bytes for
    * `startxref\s*(\d+)\s*%%EOF`, last match wins. */
  private def getStartXrefOffset(): Option[Long] = {
    val from = math.max(0, len - 256)
    val marker = "startxref".getBytes(ISO_8859_1)
    var result: Option[Long] = None
    var i = from
    while (i >= 0 && i <= len - marker.length) {
      val m = indexOf(marker, i)
      if (m < 0 || m > len - marker.length) i = -1
      else {
        var j = m + marker.length
        // \s* (regex \s = [\t\n\f\r ])
        while (j < len && (data(j) == '\t' || data(j) == '\n' || data(j) == '\f' || data(j) == '\r' || data(j) == ' ')) j += 1
        val ds = j
        while (j < len && isDigit(data(j))) j += 1
        if (j > ds) {
          val de = j
          while (j < len && (data(j) == '\t' || data(j) == '\n' || data(j) == '\f' || data(j) == '\r' || data(j) == ' ')) j += 1
          if (j + 5 <= len && data(j) == '%' && data(j + 1) == '%' && data(j + 2) == 'E' && data(j + 3) == 'O' && data(j + 4) == 'F') {
            // parse the digit group; overflow => no result (strconv failure)
            val s = new String(data, ds, de - ds, ISO_8859_1)
            result = try { Some(java.lang.Long.parseLong(s)) } catch { case _: Throwable => None }
          }
        }
        i = m + marker.length
      }
    }
    result
  }

  /** parser.go:187-209 */
  private def loadXref(offset: Long, seen: mutable.HashSet[Long]): Unit = {
    if (seen.contains(offset)) return
    seen += offset
    seek(offset)
    if (readKeyword() == PKeyword.Xref) {
      loadXrefTable(seen)
    } else {
      seek(offset)
      val (n, g, ok) = readObjectHeader()
      if (ok) {
        // xref streams are never decrypted
        val e = new XrefEntry(offset, g, XrefType.Indirect)
        e.isEncrypted = false
        xref(n) = e
        loadXrefStream(n, seen)
      }
    }
  }

  /** parser.go:211-276 */
  private def loadXrefTable(seen: mutable.HashSet[Long]): Unit = {
    val xrefs = mutable.LinkedHashMap.empty[Int, XrefEntry]
    var going = true
    while (going) {
      readInt() match {
        case None => going = false
        case Some(subsectionStart) =>
          readInt() match {
            case None => going = false
            case Some(subsectionLength) =>
              var i = 0
              var broke = false
              while (i < subsectionLength && !broke) {
                readInt64() match {
                  case None => broke = true
                  case Some(offset) =>
                    readInt() match {
                      case None => broke = true
                      case Some(generation) =>
                        val flag = readKeyword()
                        val xtype =
                          if (flag == PKeyword.N) XrefType.Indirect else XrefType.Free
                        xrefs(subsectionStart + i) = new XrefEntry(offset, generation, xtype)
                    }
                }
                i += 1
              }
          }
      }
    }

    readKeyword() // trailer keyword
    val trailerDict = readDictionary(NoDecryptor)

    // load previous xref section first, then merge (current wins)
    trailerDict.getInt64("Prev").foreach(prev => loadXref(prev, seen))
    trailerDict.entries.foreach { case (k, v) => trailer.entries(k) = v }
    xrefs.foreach { case (k, v) => xref(k) = v }
  }

  /** parser.go:278-368 */
  private def loadXrefStream(n: Int, seen: mutable.HashSet[Long]): Unit = {
    val xrefStreamOffset = currentOffset // after the object header, as in Go
    val obj = getObject(n)
    obj.value match {
      case streamTrailer: PDict =>
        streamTrailer.getInt64("Prev").foreach(prev => loadXref(prev, seen))
        streamTrailer.entries.foreach { case (k, v) => trailer.entries(k) = v }

        val index = streamTrailer.getArray("Index").getOrElse {
          streamTrailer.getNumber("Size") match {
            case Some(size) => PArray.of(PNumber(0), PNumber(size))
            case None       => return
          }
        }
        val width = streamTrailer.getArray("W").getOrElse(return)
        val typeWidth = width.getInt(0).getOrElse(return)
        val offsetWidth = width.getInt(1).getOrElse(return)
        val generationWidth = width.getInt(2).getOrElse(return)

        val stream = if (obj.stream == null) Array.emptyByteArray else obj.stream
        var sp = 0 // stream read pointer
        def readWide(w: Int): Option[Long] = {
          // overflow-safe: `sp + w` wraps negative for W entries near 2^31
          // (fuzz-found: a crafted /W [2147483647 ...] slipped past the
          // additive bound and read off the end). The reference's ReadInt64
          // fails the same inputs via a short reader.Read (utility.go:14-19)
          // — minus its 2 GB make([]byte, width) allocation, and minus the
          // makeslice panic a NEGATIVE width causes there (we degrade).
          if (w < 0 || w > stream.length - sp) return None
          var v = 0L
          var i = 0
          while (i < w) { v = v * 256 + (stream(sp + i) & 0xff); i += 1 }
          sp += w
          Some(v)
        }

        var i = 0
        while (i < index.length - 1) {
          val subsectionStart = index.getInt(i).getOrElse(return)
          val subsectionLength = index.getInt(i + 1).getOrElse(return)
          var j = 0
          while (j < subsectionLength) {
            val xtype = readWide(typeWidth).getOrElse(return)
            val offset = readWide(offsetWidth).getOrElse(return)
            val generation = readWide(generationWidth).getOrElse(return)
            xref(subsectionStart + j) =
              new XrefEntry(offset, generation.toInt, xtype.toInt)
            j += 1
          }
          i += 2
        }

        // never decrypt the xref stream object itself (parser.go:365-367)
        val e = new XrefEntry(xrefStreamOffset, obj.generation, XrefType.Indirect)
        e.isEncrypted = false
        xref(obj.number) = e
      case _ =>
    }
  }

  // ---- object fetch (parser.go:370-460) ----

  def getObject(number: Int): IndirectObject = {
    // Re-entrant fetch guard: resolving an object's OWN metadata mid-fetch
    // (e.g. `1 0 obj <</Filter 1 0 R>> stream...` — the filter-list name
    // lookup resolves back into the object being fetched) recurses forever
    // in the reference (fresh resolved_references map per Resolve, no
    // in-progress set; Go's growable stack loops until OOM). A corpus
    // engine must degrade per-document: the inner fetch observes null,
    // exactly like the existing reference-cycle guard. The transient null
    // is NOT cached — the outer fetch stores the real object when it
    // completes. DIVERGENCES.md #10.
    if (fetchInProgress.contains(number)) {
      nObjectsFetched += 1
      return IndirectObject.nullObject(number)
    }
    if (cachingEnabled) {
      objectCache.get(number) match {
        case Some((cached, errorBytes)) =>
          nObjectsFetched += 1
          if (cached.stream != null) nStreamsDecoded += 1 // metric counts per fetch, invariant to caching
          // re-parsing would re-log the abnormalities: replay them exactly
          if (errorBytes.length > 0 && output != null)
            output.errors.write(errorBytes, 0, errorBytes.length)
          return cached
        case None =>
          // capture = the error-sink byte range appended during this fetch
          // (nested fetches' errors land inside the range, as a re-parse
          // of this object would re-log them too)
          val before = if (output != null) output.errors.size() else 0
          val obj = fetchObject(number)
          val captured =
            if (output != null && output.errors.size() > before)
              java.util.Arrays.copyOfRange(output.errors.toByteArray, before, output.errors.size())
            else Array.emptyByteArray
          objectCache(number) = (obj, captured)
          return obj
      }
    }
    fetchObject(number)
  }

  private def fetchObject(number: Int): IndirectObject = {
    fetchInProgress += number
    try fetchObjectGuarded(number)
    finally fetchInProgress -= number
  }

  private def fetchObjectGuarded(number: Int): IndirectObject = {
    val obj = IndirectObject.nullObject(number)
    nObjectsFetched += 1
    xref.get(number) match {
      case Some(entry) if entry.xtype == XrefType.Indirect =>
        obj.generation = entry.generation
        seek(entry.offset)
        readObjectHeader() // skip header, result ignored (parser.go:382)

        val stringFilter: CryptFilter =
          if (securityActive && entry.isEncrypted) securityHandler.stringFilter else NoFilter
        val stringDecryptor = stringFilter.newDecryptor(number, obj.generation)

        val (value, _) = readObject(stringDecryptor)
        obj.value = value

        if (readKeyword() == PKeyword.Stream) {
          val d = value match {
            case dict: PDict => dict
            case _           => PDict.empty
          }

          var filterList = d.getArray("Filter").getOrElse {
            d.getName("Filter") match {
              case Some(f) => PArray.of(PName(f))
              case None    => PArray.empty
            }
          }
          var decodeParmsList = d.getArray("DecodeParms").getOrElse {
            d.getDictionary("DecodeParms") match {
              case Some(p) => PArray.of(p)
              case None    => PArray.empty
            }
          }

          // Go gates the whole block on `security_handler != nil` too
          // (parser.go:424): an UNENCRYPTED document with a /Crypt filter
          // keeps it in the list (unknown-filter passthrough) rather than
          // taking the override path
          var cryptFilter: CryptFilter = NoFilter
          if (securityActive && entry.isEncrypted) {
            cryptFilter = securityHandler.streamFilter
            if (d.getName("Type").contains("EmbeddedFile"))
              cryptFilter = securityHandler.fileFilter
            // /Crypt filter override (parser.go:433-449)
            if (filterList.length > 0 && filterList.getName(0).contains("Crypt")) {
              val parms0 = decodeParmsList.getDictionary(0).getOrElse(PDict.empty)
              val filterName = parms0.getName("Name").getOrElse("Identity")
              securityHandler.cryptFilters.get(filterName).foreach(cryptFilter = _)
              filterList = PArray(filterList.items.drop(1))
              if (decodeParmsList.length > 0)
                decodeParmsList = PArray(decodeParmsList.items.drop(1))
            }
          }
          val streamDecryptor = cryptFilter.newDecryptor(number, entry.generation)
          obj.stream = readStream(streamDecryptor, filterList, decodeParmsList)
          nStreamsDecoded += 1
        }

      // OPT-IN DIVERGENCE (off by default — reference parity): the
      // reference resolves compressed (type-2) objects to null
      // (parser.go:373-374 only handles XrefTypeIndirectObject), which
      // loses most objects of post-1.5 PDFs. With `expandObjectStreams`
      // the container /ObjStm is fetched through the normal (decoded,
      // decrypted, memoized) path, its `N` (objnum, offset) header pairs
      // are parsed, and the object body is read at /First + offset.
      // Strings inside object streams are never encrypted (ISO 32000-1
      // 7.5.7); embedded objects carry no stream and generation 0.
      case Some(entry) if entry.xtype == XrefType.Compressed && expandObjectStreams =>
        if (compressedInProgress.add(number)) {
          try {
            val containerNum = entry.offset.toInt
            if (containerNum != number) {
              val container = getObject(containerNum)
              (container.value, container.stream) match {
                case (d: PDict, stream) if stream != null =>
                  // /N is attacker-controlled: a crafted 2^31-ish value must
                  // not size the pairs array (fuzz-found OutOfMemoryError:
                  // "Requested array size exceeds VM limit"). Each header
                  // pair needs >= 4 bytes ("N M "x2), so stream.length/4+1
                  // bounds any count the stream could actually hold; a
                  // too-large claimed N then just fails the header reads.
                  val count = math.max(0,
                    math.min(d.getInt("N").getOrElse(0).toLong, stream.length / 4L + 1L)).toInt
                  val first = d.getInt("First").getOrElse(0)
                  val header = new PdfParser(stream, null) // nested parser: errors dropped
                  val pairs = new Array[(Int, Long)](count)
                  var i = 0
                  var ok = true
                  while (i < count && ok) {
                    (header.readInt(), header.readInt64()) match {
                      case (Some(objNum), Some(rel)) => pairs(i) = (objNum, rel)
                      case _                         => ok = false
                    }
                    i += 1
                  }
                  if (ok) {
                    val idx = entry.generation // type-2 "generation" = index in container
                    val rel =
                      if (idx >= 0 && idx < count && pairs(idx)._1 == number) Some(pairs(idx)._2)
                      else pairs.find(p => p != null && p._1 == number).map(_._2)
                    rel.foreach { r =>
                      if (first.toLong + r >= 0 && first.toLong + r <= stream.length) {
                        val body = new PdfParser(stream, null)
                        body.refParser = this // its references are document refs
                        body.seek(first.toLong + r)
                        val (value, _) = body.readObject(NoDecryptor)
                        obj.value = value
                        obj.generation = 0
                      }
                    }
                  }
                case _ =>
              }
            }
          } finally compressedInProgress.remove(number)
        }

      case _ =>
    }
    obj
  }

  // ---- lexical layer (parser.go:476-1179) ----

  /** parser.go:476-494 */
  def readObjectHeader(): (Int, Int, Boolean) = {
    readInt() match {
      case None => (0, 0, false)
      case Some(number) =>
        readInt() match {
          case None => (number, 0, false)
          case Some(generation) =>
            if (readKeyword() == PKeyword.Obj) (number, generation, true)
            else (number, generation, false)
        }
    }
  }

  /** parser.go:496-573 */
  def readObject(decryptor: Decryptor): (PdfObject, Int) = {
    consumeWhitespace()
    if (pos >= len) return (PKeyword.Null, Sentinel.ReadError)
    val b0 = data(pos) & 0xff
    val b1 = if (pos + 1 < len) data(pos + 1) & 0xff else -1

    if (b0 == '/') return (readName(), Sentinel.None)
    if (b0 == '[') return (readArray(decryptor), Sentinel.None)
    if (b0 == ']') { pos += 1; return (PKeyword.Null, Sentinel.EndOfArray) }
    if (b0 == '(') return (readString(decryptor), Sentinel.None)
    if (b0 == ')') { pos += 1; return (PKeyword.Null, Sentinel.EndOfString) }
    if (b0 == '<' && b1 == '<') return (readDictionary(decryptor), Sentinel.None)
    if (b0 == '>' && b1 == '>') { pos += 2; return (PKeyword.Null, Sentinel.EndOfDictionary) }
    if (b0 == '<') return (readHexString(decryptor), Sentinel.None)
    if (b0 == '>') { pos += 1; return (PKeyword.Null, Sentinel.EndOfHexString) }

    if (isDigit(b0) || b0 == '+' || b0 == '-' || b0 == '.') {
      val number = readNumber()
      val offset = currentOffset
      readInt() match {
        case None =>
          seek(offset)
          return (number, Sentinel.None)
        case Some(generation) =>
          if (readKeyword() != PKeyword.R) {
            seek(offset)
            return (number, Sentinel.None)
          }
          return (PRef(refParser, number.value.toInt, generation), Sentinel.None)
      }
    }

    (readKeyword(), Sentinel.None)
  }

  /** parser.go:575-603 */
  def readArray(decryptor: Decryptor): PArray = {
    consumeWhitespace()
    val array = PArray.empty
    val b = readByte()
    if (b != '[') return array // byte consumed, as in Go (parser.go:583-586)
    var going = true
    while (going) {
      val (element, err) = readObject(decryptor)
      if (err == Sentinel.ReadError) { logError(PdfErrors.UnclosedArray); going = false }
      else if (err == Sentinel.EndOfArray) going = false
      else array.items += element
    }
    array
  }

  /** parser.go:605-618 — the content-stream tuple iterator. */
  def readCommand(): (PKeyword, PArray, Int) = {
    val operands = PArray.empty
    while (true) {
      val (operand, err) = readObject(NoDecryptor)
      if (err != Sentinel.None) return (PKeyword.Null, operands, err)
      operand match {
        case k: PKeyword => return (k, operands, Sentinel.None)
        case o           => operands.items += o
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** parser.go:620-664 */
  def readDictionary(decryptor: Decryptor): PDict = {
    consumeWhitespace()
    val dictionary = PDict.empty
    // read start-of-dictionary markers (up to 2 bytes, as bufio.Read does)
    val avail = math.min(2, len - pos)
    if (avail <= 0) return dictionary
    val ok = avail == 2 && data(pos) == '<' && data(pos + 1) == '<'
    pos += avail
    if (!ok) return dictionary

    var going = true
    while (going) {
      val (name, err) = readObject(decryptor)
      if (err == Sentinel.ReadError) { logError(PdfErrors.UnclosedDictionary); going = false }
      else if (err == Sentinel.EndOfDictionary) going = false
      else name match {
        case PName(key) =>
          val (value, verr) = readObject(decryptor)
          if (verr == Sentinel.ReadError || verr == Sentinel.EndOfDictionary) {
            logError(PdfErrors.MissingDictionaryValue); going = false
          } else dictionary.entries(key) = value
        case _ =>
          logError(PdfErrors.InvalidDictionaryKeyType)
      }
    }
    dictionary
  }

  /** parser.go:666-707 */
  def readHexString(decryptor: Decryptor): PString = {
    consumeWhitespace()
    val s = new java.io.ByteArrayOutputStream()
    val first = readByte()
    if (first != '<') {
      if (first == -1) return PString(Array.emptyByteArray)
      // Go returns the empty string without unreading on a non-'<' byte
      return PString(Array.emptyByteArray)
    }
    while (true) {
      val code = Array[Byte]('0', '0')
      var i = 0
      while (i < 2) {
        consumeWhitespace()
        val b = readByte()
        if (b == -1 || b == '>') {
          if (b == -1) logError(PdfErrors.UnclosedHexString)
          if (i > 0) s.write(Integer.parseInt(new String(code, ISO_8859_1), 16))
          val bytes = s.toByteArray
          decryptor.decrypt(bytes)
          return PString(bytes)
        }
        if (!isHexByte(b)) {
          logError(PdfErrors.InvalidHexStringChar)
        } else {
          code(i) = b.toByte
          i += 1
        }
      }
      s.write(Integer.parseInt(new String(code, ISO_8859_1), 16))
    }
    throw new IllegalStateException("unreachable")
  }

  @inline private def isHexByte(b: Int): Boolean =
    (b >= '0' && b <= '9') || (b >= 'a' && b <= 'f') || (b >= 'A' && b <= 'F')

  /** parser.go:709-749 */
  def readInt(): Option[Int] = readInt64().map(_.toInt)

  def readInt64(): Option[Long] = {
    consumeWhitespace()
    var value = 0L
    var b = readByte()
    if (b == -1 || b < '0' || b > '9') { unread(b); return None }
    value = value * 10 + (b - '0')
    var going = true
    while (going) {
      b = readByte()
      if (b == -1) going = false
      else if (b < '0' || b > '9') { unread(b); going = false }
      else value = value * 10 + (b - '0')
    }
    Some(value)
  }

  /** parser.go:751-777 */
  def readKeyword(): PKeyword = {
    consumeWhitespace()
    val sb = new StringBuilder
    var going = true
    while (going) {
      val b = readByte()
      if (b == -1) going = false
      else if (isWs(b) || isDelim(b)) { unread(b); going = false }
      else sb += b.toChar
    }
    PKeyword(sb.toString)
  }

  /** parser.go:779-837 */
  def readName(): PName = {
    consumeWhitespace()
    val sb = new StringBuilder
    val first = readByte()
    if (first != '/') return PName(sb.toString) // byte consumed, as in Go
    var going = true
    while (going) {
      var b = readByte()
      if (b == -1) return PName(sb.toString)
      else if (isDelim(b) || isWs(b)) { unread(b); going = false }
      else {
        if (b == '#') {
          val code = Array[Byte]('0', '0')
          var i = 0
          var broke = false
          while (i < 2 && !broke) {
            val hb = readByte()
            if (hb == -1) broke = true
            else if (!isHexByte(hb)) {
              logError(PdfErrors.InvalidNameEscapeChar)
              unread(hb)
              broke = true
            } else { code(i) = hb.toByte; i += 1 }
          }
          b = Integer.parseInt(new String(code, ISO_8859_1), 16)
          if (b >= '!' && b <= '~' && b != '#' && !isDelim(b))
            logError(PdfErrors.UnnecessaryEscapeName)
        }
        sb += b.toChar
      }
    }
    PName(sb.toString)
  }

  /** parser.go:839-905 — note the reference bug: fractional digit i
    * contributes d/(10*i), not d/10^i ("0.25" parses as 0.45). */
  def readNumber(): PNumber = {
    consumeWhitespace()
    var number = 0.0
    var isReal = false
    var isNegative = false

    var b = readByte()
    if (b == -1) return PNumber(number)
    if (b == '-') isNegative = true
    else if (b >= '0' && b <= '9') number = number * 10 + (b - '0')
    else if (b == '.') isReal = true
    else if (b != '+') { unread(b); return PNumber(number) }

    // parse int part
    var broke = false
    while (!isReal && !broke) {
      b = readByte()
      if (b == -1) broke = true
      else if (b >= '0' && b <= '9') number = number * 10 + (b - '0')
      else if (b == '.') isReal = true
      else { unread(b); broke = true }
    }

    // parse real part
    if (isReal) {
      var i = 1
      var going = true
      while (going) {
        b = readByte()
        if (b == -1) going = false
        else if (b >= '0' && b <= '9') { number += (b - '0').toDouble / (10.0 * i); i += 1 }
        else { unread(b); going = false }
      }
    }

    if (isNegative) number = -number
    PNumber(number)
  }

  /** parser.go:907-992: skip one EOL after `stream`, then scan byte-wise for
    * the literal "endstream" (the /Length entry is ignored), trim one
    * trailing EOL, decrypt, then apply the filter chain left-to-right. */
  def readStream(decryptor: Decryptor, filterList: PArray, decodeParmsList: PArray): Array[Byte] = {
    // read until first newline
    var going = true
    while (going) {
      val b = readByte()
      if (b == -1) return Array.emptyByteArray
      if (b == '\n') going = false
      else if (b == '\r') {
        val nb = readByte()
        if (nb == -1) return Array.emptyByteArray
        if (nb != '\n') unread(nb)
        going = false
      }
    }

    val contentStart = pos
    val e = indexOf("endstream".getBytes(ISO_8859_1), contentStart)
    var streamData: Array[Byte] = null
    if (e < 0) {
      // Go's copy loop breaks silently when EOF falls immediately after the
      // stream keyword's EOL (the 9-byte window read fails before any parser
      // read, parser.go:934-940) — only >=1-byte truncations log the error.
      if (contentStart < len) logError(PdfErrors.UnclosedStream)
      streamData = java.util.Arrays.copyOfRange(data, contentStart, len)
      pos = len
    } else {
      var end = e
      // truncate one trailing EOL before "endstream"
      if (end - 1 >= contentStart && data(end - 1) == '\n') {
        if (end - 2 >= contentStart && data(end - 2) == '\r') end -= 2 else end -= 1
      } else if (end - 1 >= contentStart && data(end - 1) == '\r') end -= 1
      streamData = java.util.Arrays.copyOfRange(data, contentStart, end)
      pos = math.min(e + 9, len)
    }

    decryptor.decrypt(streamData)

    var i = 0
    while (i < filterList.length) {
      val filter = filterList.getName(i).getOrElse("")
      val parms = decodeParmsList.getDictionary(i).getOrElse(PDict.empty)
      streamData = Filters.decodeStream(filter, streamData, parms, f => {
        filtersApplied(f) = filtersApplied.getOrElse(f, 0L) + 1L
      })
      i += 1
    }
    streamData
  }

  /** parser.go:994-1132 */
  def readString(decryptor: Decryptor): PString = {
    consumeWhitespace()
    val s = new java.io.ByteArrayOutputStream()
    def finish(): PString = {
      val bytes = s.toByteArray
      decryptor.decrypt(bytes)
      PString(bytes)
    }
    val first = readByte()
    if (first == -1 || first != '(') {
      // Go returns empty without unreading (parser.go:1002-1008)
      return PString(s.toByteArray)
    }

    var openParens = 1
    while (true) {
      var b = readByte()
      if (b == -1) { logError(PdfErrors.UnclosedString); return finish() }

      if (b == '\\') {
        b = readByte()
        if (b == -1) {
          logError(PdfErrors.UnclosedStringEscape)
          s.write('\\')
          return finish()
        }
        var handled = false
        if (b == '\n') handled = true
        else if (b == '\r') {
          val nb = readByte()
          if (nb == -1) { logError(PdfErrors.UnclosedStringEscape); return finish() }
          if (nb != '\n') unread(nb)
          handled = true
        }
        if (!handled) {
          if (b == 'n') b = '\n'
          else if (b == 'r') b = '\r'
          else if (b == 't') b = '\t'
          else if (b == 'b') b = '\b'
          else if (b == 'f') b = '\f'

          if (b >= '0' && b <= '7') {
            val code = new StringBuilder
            code += b.toChar
            var i = 0
            var broke = false
            while (i < 2 && !broke) {
              val ob = readByte()
              if (ob == -1) { logError(PdfErrors.UnclosedStringOctal); broke = true }
              else if (ob < '0' || ob > '7') { unread(ob); broke = true }
              else code += ob.toChar
              i += 1
            }
            var value = Integer.parseInt(code.toString, 8)
            if (value > 255) {
              // octal too large: drop the last digit (parser.go:1092-1098)
              logError(PdfErrors.InvalidOctal)
              pos -= 1
              value = Integer.parseInt(code.toString.dropRight(1), 8)
            }
            b = value
            if (b >= '!' && b <= '~' && b != '\\' && b != '(' && b != ')')
              logError(PdfErrors.UnnecessaryEscapeString)
          }
          s.write(b)
        }
      } else {
        if (b == '(') openParens += 1
        else if (b == ')') openParens -= 1
        if (openParens == 0) return finish()
        s.write(b)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** parser.go:1135-1179 */
  def consumeWhitespace(): Unit = {
    var going = true
    while (going) {
      val b = readByte()
      if (b == -1) going = false
      else if (b == '%') consumeComment()
      else if (!isWs(b)) { unread(b); going = false }
    }
  }

  private def consumeComment(): Unit = {
    var going = true
    while (going) {
      val b = readByte()
      if (b == -1) going = false
      else if (b == '\n') going = false
      else if (b == '\r') {
        val nb = readByte()
        if (nb != -1 && nb != '\n') unread(nb)
        going = false
      }
    }
  }
}
