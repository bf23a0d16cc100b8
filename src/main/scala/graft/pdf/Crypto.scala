package graft.pdf

import java.security.MessageDigest
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** Decryption, replicating /root/reference/pdf/encryption.go.
  * Standard security handler only; V in {1,2,4}, R in {2,3,4};
  * RC4 and AES-CBC crypt filters with per-object key salting.
  */
object Crypto {
  /** 32-byte password padding string (encryption.go:11). */
  val PaddingString: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hex, two digits per byte (md5 manifest names, batch ids). */
  def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HexDigits((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** In-place RC4 XOR keystream (encryption.go:139-142). */
  def rc4(key: Array[Byte], data: Array[Byte]): Unit = {
    val s = new Array[Int](256)
    var i = 0
    while (i < 256) { s(i) = i; i += 1 }
    var j = 0
    i = 0
    while (i < 256) {
      j = (j + s(i) + (key(i % key.length) & 0xff)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    var x = 0; var y = 0
    var k = 0
    while (k < data.length) {
      x = (x + 1) & 0xff
      y = (y + s(x)) & 0xff
      val t = s(x); s(x) = s(y); s(y) = t
      data(k) = (data(k) ^ s((s(x) + s(y)) & 0xff)).toByte
      k += 1
    }
  }
}

sealed trait Decryptor { def decrypt(data: Array[Byte]): Unit }
object NoDecryptor extends Decryptor { def decrypt(data: Array[Byte]): Unit = () }

final class Rc4Decryptor(key: Array[Byte]) extends Decryptor {
  def decrypt(data: Array[Byte]): Unit = Crypto.rc4(key, data)
}

/** AES-CBC: first 16 bytes are the IV and stay in place; data <= one block is
  * untouched; any cipher failure (bad key size, non-block-multiple input) is
  * swallowed leaving the data unchanged (encryption.go:76-97). */
final class AesDecryptor(key: Array[Byte]) extends Decryptor {
  def decrypt(data: Array[Byte]): Unit = {
    if (data.length <= 16) return
    if (key.length != 16 && key.length != 24 && key.length != 32) return
    if ((data.length - 16) % 16 != 0) return
    try {
      val cipher = Cipher.getInstance("AES/CBC/NoPadding")
      cipher.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "AES"),
        new IvParameterSpec(data, 0, 16))
      val plain = cipher.doFinal(data, 16, data.length - 16)
      System.arraycopy(plain, 0, data, 16, plain.length)
    } catch { case _: Throwable => () }
  }
}

sealed trait CryptFilter { def newDecryptor(n: Int, g: Int): Decryptor }
object NoFilter extends CryptFilter {
  def newDecryptor(n: Int, g: Int): Decryptor = NoDecryptor
}

/** Per-object key salting: key || n[0:3]LE || g[0:2]LE (+"sAlT" for AES),
  * MD5, truncated to min(len+5, 16) (encryption.go:38-70,104-133). */
private object Salt {
  def saltedKey(key: Array[Byte], n: Int, g: Int, aes: Boolean): Array[Byte] = {
    val extra = if (aes) 9 else 5
    val salt = new Array[Byte](key.length + extra)
    System.arraycopy(key, 0, salt, 0, key.length)
    salt(key.length) = (n & 0xff).toByte
    salt(key.length + 1) = ((n >>> 8) & 0xff).toByte
    salt(key.length + 2) = ((n >>> 16) & 0xff).toByte
    salt(key.length + 3) = (g & 0xff).toByte
    salt(key.length + 4) = ((g >>> 8) & 0xff).toByte
    if (aes) {
      val t = "sAlT".getBytes("ISO-8859-1")
      System.arraycopy(t, 0, salt, key.length + 5, 4)
    }
    val hash = Crypto.md5(salt)
    val l = math.min(key.length + 5, 16)
    hash.take(l)
  }
}

final class Rc4CryptFilter(key: Array[Byte]) extends CryptFilter {
  def newDecryptor(n: Int, g: Int): Decryptor =
    new Rc4Decryptor(Salt.saltedKey(key, n, g, aes = false))
}

final class AesCryptFilter(key: Array[Byte]) extends CryptFilter {
  def newDecryptor(n: Int, g: Int): Decryptor =
    new AesDecryptor(Salt.saltedKey(key, n, g, aes = true))
}

/** Standard security handler (encryption.go:144-364). init() returns the
  * reference's exact error string on failure, or null on success. */
final class SecurityHandler {
  var streamFilter: CryptFilter = NoFilter
  var stringFilter: CryptFilter = NoFilter
  var fileFilter: CryptFilter = NoFilter
  var cryptFilters: scala.collection.mutable.Map[String, CryptFilter] =
    scala.collection.mutable.LinkedHashMap.empty

  private var r = 0
  private var length = 0
  private var o: Array[Byte] = _
  private var p: Array[Byte] = _
  private var id: Array[Byte] = _
  private var encryptMetaData = true

  def init(password: Array[Byte], trailer: PDict): String = {
    val encrypt = trailer.getDictionary("Encrypt").getOrElse(return PdfErrors.EncryptionError)

    if (!encrypt.getName("Filter").contains("Standard")) return PdfErrors.EncryptionUnsupported

    val v = encrypt.getInt("V").getOrElse(0)
    if (v != 1 && v != 2 && v != 4) return PdfErrors.EncryptionUnsupported

    r = encrypt.getInt("R").getOrElse(0)
    if (r < 2 || r > 4) return PdfErrors.EncryptionUnsupported

    length = if (v == 1) 40 else encrypt.getInt("Length").getOrElse(40)
    length = length / 8
    if (length < 5) length = 5 else if (length > 16) length = 16

    o = encrypt.getBytes("O").getOrElse(return PdfErrors.EncryptionError)
    val u = encrypt.getBytes("U").getOrElse(return PdfErrors.EncryptionError)
    val pInt = encrypt.getInt("P").getOrElse(return PdfErrors.EncryptionError)
    p = Array((pInt & 0xff).toByte, ((pInt >>> 8) & 0xff).toByte,
      ((pInt >>> 16) & 0xff).toByte, ((pInt >>> 24) & 0xff).toByte)
    encryptMetaData = encrypt.getBool("EncryptMetadata").getOrElse(true)

    val ids = trailer.getArray("ID").getOrElse(return PdfErrors.EncryptionError)
    id = ids.getString(0).getOrElse(return PdfErrors.EncryptionError)

    val encryptionKey = computeEncryptionKey(password, length)

    // verify key (Algorithm 4 for R2, Algorithm 5 for R3+)
    if (r == 2) {
      val uu = new Array[Byte](32)
      System.arraycopy(Crypto.PaddingString, 0, uu, 0, 32)
      Crypto.rc4(encryptionKey, uu)
      // Go compares full strings: length mismatch fails (encryption.go:256)
      if (u.length != 32 || !java.util.Arrays.equals(uu, u))
        return PdfErrors.EncryptionPasswordError
    } else if (r >= 3) {
      var uu = Crypto.md5(Crypto.PaddingString, id)
      val tempKey = new Array[Byte](encryptionKey.length)
      var i = 0
      while (i < 20) {
        var j = 0
        while (j < encryptionKey.length) {
          tempKey(j) = (encryptionKey(j) ^ i.toByte).toByte
          j += 1
        }
        Crypto.rc4(tempKey, uu)
        i += 1
      }
      if (u.length < 16 || !java.util.Arrays.equals(uu, u.take(16)))
        return PdfErrors.EncryptionPasswordError
    }

    // default filters (RC4 with the document key)
    streamFilter = new Rc4CryptFilter(encryptionKey)
    stringFilter = streamFilter
    fileFilter = streamFilter
    cryptFilters = scala.collection.mutable.LinkedHashMap("Identity" -> NoFilter)

    // R4: /CF crypt-filter table + /StmF /StrF /EEF defaults
    if (r == 4) {
      encrypt.getDictionary("CF").foreach { cf =>
        cf.entries.foreach { case (k, entry) =>
          entry match {
            case cfd: PDict =>
              cfd.getName("CFM").foreach { method =>
                val len = cfd.getInt("Length").getOrElse(length)
                method match {
                  case "None"  => cryptFilters(k) = NoFilter
                  case "V2"    => cryptFilters(k) = new Rc4CryptFilter(computeEncryptionKey(password, len))
                  case "AESV2" => cryptFilters(k) = new AesCryptFilter(computeEncryptionKey(password, len))
                  case _       =>
                }
              }
            case _ =>
          }
        }
      }
      encrypt.getName("StmF").foreach(n => cryptFilters.get(n).foreach(streamFilter = _))
      encrypt.getName("StrF").foreach(n => cryptFilters.get(n).foreach(stringFilter = _))
      encrypt.getName("EEF").foreach(n => cryptFilters.get(n).foreach(fileFilter = _))
    }

    null
  }

  /** Algorithm 2 (encryption.go:335-364). */
  private def computeEncryptionKey(password: Array[Byte], keyLength: Int): Array[Byte] = {
    val padded =
      if (password.length < 32) password ++ Crypto.PaddingString.take(32 - password.length)
      else password.take(32)
    val d = MessageDigest.getInstance("MD5")
    d.update(padded); d.update(o); d.update(p); d.update(id)
    if (r >= 4 && !encryptMetaData)
      d.update(Array(0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte))
    var key = d.digest().take(keyLength)
    if (r >= 3) {
      var i = 0
      while (i < 50) { key = Crypto.md5(key).take(keyLength); i += 1 }
    }
    key
  }
}

/** Exact reference message strings, incl. the `espace` typos
  * (/root/reference/pdf/errors.go:9-32). */
object PdfErrors {
  // hard errors (returned from Load)
  val EncryptionError = "missing required encryption info"
  val EncryptionPasswordError = "incorrect password"
  val EncryptionUnsupported = "unsupported encryption"

  // format abnormalities (logged to the errors sink)
  val InvalidDictionaryKeyType = "invalid dictionary key type"
  val InvalidHexStringChar = "invalid hex string character"
  val InvalidNameEscapeChar = "invalid name escape character"
  val InvalidOctal = "invalid octal in string"
  val MissingDictionaryValue = "missing dictionary value"
  val UnclosedArray = "unclosed array"
  val UnclosedDictionary = "unclosed dictionary"
  val UnclosedHexString = "unclosed hex string"
  val UnclosedStream = "unclosed stream"
  val UnclosedString = "unclosed string"
  val UnclosedStringEscape = "unclosed escape in string"
  val UnclosedStringOctal = "unclosed octal in string"
  val UnnecessaryEscapeName = "unnecessary espace sequence in name"
  val UnnecessaryEscapeString = "unnecessary espace sequence in string"
}
