package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.collection.mutable

/** Go-compatible float formatting.
  *
  * The reference serializes numbers with Go's `fmt.Sprint(float64)`
  * (/root/reference/pdf/number.go:10), i.e. `strconv.FormatFloat(f,'g',-1,64)`:
  * shortest round-trip digits, positional notation unless the decimal exponent
  * is < -4 or >= 21, exponent written as `e+NN`/`e-NN` with >= 2 digits.
  */
object GoFmt {
  def float(f: Double): String = {
    if (f.isNaN) return "NaN"
    if (f.isPosInfinity) return "+Inf"
    if (f.isNegInfinity) return "-Inf"
    if (f == 0.0) return if (1.0 / f < 0) "-0" else "0"
    val neg = f < 0
    val a = math.abs(f)
    // shortest round-trip digits: smallest p such that %.{p-1}e round-trips
    var digits: String = null
    var exp10 = 0
    var p = 1
    while (digits == null && p <= 17) {
      val s = String.format("%." + (p - 1) + "e", Double.box(a))
      if (s.toDouble == a) {
        val Array(mant, e) = s.split("e")
        exp10 = e.toInt
        digits = mant.replace(".", "")
        // strip trailing zeros (format pads to p-1 decimals)
        while (digits.length > 1 && digits.endsWith("0")) digits = digits.dropRight(1)
      }
      p += 1
    }
    if (digits == null) { // unreachable fallback
      digits = "0"; exp10 = 0
    }
    val sb = new StringBuilder
    if (neg) sb += '-'
    if (exp10 < -4 || exp10 >= 21) {
      sb += digits.charAt(0)
      if (digits.length > 1) { sb += '.'; sb ++= digits.substring(1) }
      sb += 'e'
      sb += (if (exp10 < 0) '-' else '+')
      val ea = math.abs(exp10)
      if (ea < 10) sb += '0'
      sb ++= ea.toString
    } else if (exp10 >= digits.length - 1) {
      sb ++= digits
      var i = digits.length - 1
      while (i < exp10) { sb += '0'; i += 1 }
    } else if (exp10 >= 0) {
      sb ++= digits.substring(0, exp10 + 1)
      sb += '.'
      sb ++= digits.substring(exp10 + 1)
    } else {
      sb ++= "0."
      var i = -1
      while (i > exp10) { sb += '0'; i -= 1 }
      sb ++= digits
    }
    sb.toString
  }
}

/** The PDF object model: a Scala sealed ADT mirroring the reference's
  * `Object` sum type (/root/reference/pdf/object.go:8-10). Exists only
  * executor-side inside the extraction kernel — never a Catalyst type.
  *
  * Byte-level payloads (strings, names) are carried losslessly: names and
  * dictionary keys as ISO-8859-1 strings (one char per byte), string bodies
  * as raw Array[Byte].
  */
sealed trait PdfObject {
  /** Go `Object.String()`-identical serialization. */
  def str: String
}

/** float64 newtype — the single numeric type (pdf/number.go:7-11). */
final case class PNumber(value: Double) extends PdfObject {
  def str: String = GoFmt.float(value)
}

/** raw byte string; prints `(`+bytes+`)` without re-escaping (pdf/string.go:3-7). */
final case class PString(bytes: Array[Byte]) extends PdfObject {
  def str: String = "(" + new String(bytes, ISO_8859_1) + ")"
}

/** identifier newtype; prints "/"+name (pdf/name.go:3-7). */
final case class PName(name: String) extends PdfObject {
  def str: String = "/" + name
}

/** bareword token; booleans and null are keywords (pdf/keyword.go). */
final case class PKeyword(word: String) extends PdfObject {
  def str: String = word
}

object PKeyword {
  val Xref = PKeyword("xref")
  val Trailer = PKeyword("trailer")
  val Obj = PKeyword("obj")
  val Stream = PKeyword("stream")
  val R = PKeyword("R")
  val N = PKeyword("n")
  val Null = PKeyword("null")
  val True = PKeyword("true")
  val False = PKeyword("false")
  val BT = PKeyword("BT")
  val ET = PKeyword("ET")
  val Tf = PKeyword("Tf")
  val TJ = PKeyword("TJ")
  val Tj = PKeyword("Tj")
  val Quote = PKeyword("'")
  val DQuote = PKeyword("\"")
  val BeginBfRange = PKeyword("beginbfrange")
  val BeginBfChar = PKeyword("beginbfchar")
}

/** heterogeneous array (pdf/array.go:7). */
final case class PArray(items: mutable.ArrayBuffer[PdfObject]) extends PdfObject {
  def str: String = items.map(_.str).mkString("[", " ", "]")
  def length: Int = items.length

  def getObject(i: Int): Option[PdfObject] =
    if (i >= 0 && i < items.length) Some(items(i) match {
      case r: PRef => r.resolve()
      case o       => o
    }) else None

  def getNumber(i: Int): Option[Double] = getObject(i).collect { case PNumber(v) => v }
  def getInt(i: Int): Option[Int] = getNumber(i).map(_.toInt)
  def getInt64(i: Int): Option[Long] = getNumber(i).map(_.toLong)
  def getName(i: Int): Option[String] = getObject(i).collect { case PName(n) => n }
  def getString(i: Int): Option[Array[Byte]] = getObject(i).collect { case PString(b) => b }
  def getDictionary(i: Int): Option[PDict] = getObject(i).collect { case d: PDict => d }
  def getArray(i: Int): Option[PArray] = getObject(i).collect { case a: PArray => a }
  def getStream(i: Int): Option[Array[Byte]] =
    if (i >= 0 && i < items.length) items(i) match {
      case r: PRef => Some(r.resolveStream())
      case _       => None
    } else None
}

object PArray {
  def empty: PArray = PArray(mutable.ArrayBuffer.empty)
  def of(items: PdfObject*): PArray = PArray(mutable.ArrayBuffer(items: _*))
}

/** schemaless dictionary; insertion-ordered for deterministic serialization
  * (the reference's Go map order is random — documented divergence,
  * pdf/dictionary.go:12). Typed accessors resolve references transparently
  * and degrade to None (pdf/dictionary.go:22-182).
  */
final case class PDict(entries: mutable.LinkedHashMap[String, PdfObject]) extends PdfObject {
  def str: String =
    entries.iterator.map { case (k, v) => "/" + k + " " + v.str }.mkString("<<", "", ">>")

  def getObject(key: String): Option[PdfObject] =
    entries.get(key).map {
      case r: PRef => r.resolve()
      case o       => o
    }

  def getNumber(key: String): Option[Double] = getObject(key).collect { case PNumber(v) => v }
  def getInt(key: String): Option[Int] = getNumber(key).map(_.toInt)
  def getInt64(key: String): Option[Long] = getNumber(key).map(_.toLong)
  def getName(key: String): Option[String] = getObject(key).collect { case PName(n) => n }
  def getString(key: String): Option[Array[Byte]] = getObject(key).collect { case PString(b) => b }
  def getBytes(key: String): Option[Array[Byte]] = getString(key)
  def getDictionary(key: String): Option[PDict] = getObject(key).collect { case d: PDict => d }
  def getArray(key: String): Option[PArray] = getObject(key).collect { case a: PArray => a }

  def getBool(key: String): Option[Boolean] = getObject(key).collect {
    case PKeyword("true")  => true
    case PKeyword("false") => false
  }

  /** Streams only resolve through a direct reference (pdf/dictionary.go:166-173). */
  def getStream(key: String): Option[Array[Byte]] =
    entries.get(key) match {
      case Some(r: PRef) => Some(r.resolveStream())
      case _             => None
    }

  /** Name-tree flatten with kid cycle guard (pdf/dictionary.go:77-106). */
  def getNameTreeMap(key: String): PArray =
    getDictionary(key) match {
      case Some(root) => root.nameTreeMap(mutable.HashSet.empty[Int])
      case None       => PArray.empty
    }

  private def nameTreeMap(resolvedKids: mutable.HashSet[Int]): PArray = {
    val out = PArray.empty
    getArray("Names").foreach(names => out.items ++= names.items)
    getArray("Kids").foreach { kids =>
      var i = 0
      while (i < kids.items.length) {
        var skip = false
        kids.items(i) match {
          case r: PRef =>
            if (resolvedKids.contains(r.number)) skip = true
            else resolvedKids += r.number
          case _ =>
        }
        if (!skip) {
          val kid = kids.getDictionary(i).getOrElse(PDict.empty)
          out.items ++= kid.nameTreeMap(resolvedKids).items
        }
        i += 1
      }
    }
    out
  }

  /** Page-tree flatten: DFS over /Kids with cycle guard; includes interior
    * nodes, root first (pdf/dictionary.go:127-155). */
  def getPageTree(key: String): Option[Seq[PDict]] =
    getDictionary(key).map(_.resolveKids(mutable.HashSet.empty[Int]))

  private def resolveKids(resolvedKids: mutable.HashSet[Int]): Seq[PDict] = {
    val out = mutable.ArrayBuffer[PDict](this)
    getArray("Kids").foreach { kids =>
      var i = 0
      while (i < kids.items.length) {
        kids.items(i) match {
          case r: PRef if !resolvedKids.contains(r.number) =>
            resolvedKids += r.number
            r.resolve() match {
              case d: PDict => out ++= d.resolveKids(resolvedKids)
              case _        =>
            }
          case _ =>
        }
        i += 1
      }
    }
    out.toSeq
  }
}

object PDict {
  def empty: PDict = PDict(mutable.LinkedHashMap.empty)
}

/** (number, generation) pointer into the xref, resolved lazily against the
  * owning parser with a cycle guard (pdf/reference.go). */
final case class PRef(parser: PdfParser, number: Int, generation: Int) extends PdfObject {
  def str: String = s"$number $generation R"

  def resolve(): PdfObject = {
    val saved = parser.pos
    val obj = resolveIndirect(mutable.HashSet.empty[Int])
    parser.pos = saved
    obj.value
  }

  /** Go returns a nil slice when the target object is missing or has no
    * stream, and every consumer treats nil as empty bytes (e.g. DumpFile
    * writes the md5-of-empty entry, pdf/object.go:63-66) — so normalize to
    * an empty array here rather than leaking null into the walk. */
  def resolveStream(): Array[Byte] = {
    val saved = parser.pos
    val obj = resolveIndirect(mutable.HashSet.empty[Int])
    parser.pos = saved
    if (obj.stream == null) Array.emptyByteArray else obj.stream
  }

  private def resolveIndirect(seen: mutable.HashSet[Int]): IndirectObject = {
    if (seen.contains(number)) return IndirectObject.nullObject(number)
    seen += number
    val obj = parser.getObject(number)
    obj.value match {
      case r: PRef => r.resolveIndirect(seen)
      case _       => obj
    }
  }
}

/** (Number, Generation, Value, Stream) — the unit the xref indexes
  * (pdf/object.go:12-31). stream == null means "no stream". */
final class IndirectObject(
    val number: Int,
    var generation: Int,
    var value: PdfObject,
    var stream: Array[Byte]
) {
  /** Go `IndirectObject.String()`-identical (pdf/object.go:23-31). */
  def str: String = {
    val sb = new StringBuilder
    sb ++= s"$number $generation obj\n" ++= value.str += '\n'
    if (stream != null)
      sb ++= "stream\n" ++= new String(stream, ISO_8859_1) ++= "\nendstream\n"
    sb ++= "endobj\n"
    sb.toString
  }
}

object IndirectObject {
  def nullObject(number: Int): IndirectObject =
    new IndirectObject(number, 0, PKeyword.Null, null)
}

object XrefType {
  val Free = 0
  val Indirect = 1
  val Compressed = 2
}

/** Xref table entry (pdf/xref.go:9-19). */
final class XrefEntry(
    var offset: Long,
    var generation: Int,
    var xtype: Int,
    var isEncrypted: Boolean = true,
    var isXrefStream: Boolean = false
)
