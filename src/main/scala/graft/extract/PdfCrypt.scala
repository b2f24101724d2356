package graft.extract

import java.security.MessageDigest

/** PDF Standard security handler — from the public specs, not a pypdf
  * port. Covers the reference's `get_pdf_info`/`decrypt_pdf` password
  * behavior (pdf_utils.py:90-135, 205-225) across every Standard-handler
  * generation: RC4 V=1/2 R=2/3 (PDF 32000-1 §7.6.3 Algorithms 2/4/5,
  * per-object keys via Algorithm 1), AES-128 V=4/AESV2, and AES-256
  * V=5/AESV3 R=5/6 (ISO 32000-2 §7.6.4: the SHA-2 iterated password hash
  * 2.B, /UE//OE file-key unwrap, /Perms validation — V5 encrypts under
  * the FILE key directly, no per-object derivation). Owner-password
  * RECOVERY (cracking) is out of scope; owner-password VERIFICATION
  * (Algorithm 12) opens V5 documents.
  *
  * RC4 itself is implemented inline (20 lines, public algorithm) and
  * unit-tested against the published test vectors.
  */
object PdfCrypt {

  /** §7.6.3.3 Table 1: the 32-byte password padding string. */
  val Pad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(_.toByte)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + s(i) + key(i % key.length)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var x = 0; var y = 0; var k = 0
    while (k < data.length) {
      x = (x + 1) & 0xff
      y = (y + s(x)) & 0xff
      val t = s(x); s(x) = s(y); s(y) = t
      out(k) = (data(k) ^ s((s(x) + s(y)) & 0xff)).toByte
      k += 1
    }
    out
  }

  def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }

  private def pad(password: Array[Byte]): Array[Byte] =
    (password ++ Pad).take(32)

  private def le4(v: Int): Array[Byte] = new Bin.Sink(4).u32le(v).toArray

  /** Algorithm 2: the file encryption key from a (user) password. */
  def fileKey(
      password: Array[Byte],
      o: Array[Byte],
      p: Int,
      id0: Array[Byte],
      r: Int,
      keyLenBytes: Int,
      encryptMetadata: Boolean = true): Array[Byte] = {
    val extra =
      if (r >= 4 && !encryptMetadata) Array(0xff, 0xff, 0xff, 0xff).map(_.toByte)
      else Array.emptyByteArray
    var key = md5(pad(password), o, le4(p), id0, extra)
    if (r >= 3) {
      var i = 0
      while (i < 50) { key = md5(key.take(keyLenBytes)); i += 1 }
    }
    key.take(keyLenBytes)
  }

  /** Algorithm 4 (R=2) / Algorithm 5 (R≥3): the expected /U entry. */
  def computeU(key: Array[Byte], id0: Array[Byte], r: Int): Array[Byte] =
    if (r == 2) rc4(key, Pad)
    else {
      var x = rc4(key, md5(Pad, id0))
      var i = 1
      while (i <= 19) {
        x = rc4(key.map(b => (b ^ i).toByte), x)
        i += 1
      }
      x // 16 bytes; the stored /U appends 16 bytes of arbitrary padding
    }

  /** Algorithm 6: verify a user password; Some(fileKey) when it opens the
    * document. R≥3 compares the first 16 bytes of /U per the spec.
    */
  def verifyUserPassword(
      password: Array[Byte],
      o: Array[Byte],
      u: Array[Byte],
      p: Int,
      id0: Array[Byte],
      r: Int,
      keyLenBytes: Int,
      encryptMetadata: Boolean = true): Option[Array[Byte]] = {
    val key = fileKey(password, o, p, id0, r, keyLenBytes, encryptMetadata)
    val expect = computeU(key, id0, r)
    val ok =
      if (r == 2) java.util.Arrays.equals(expect, u)
      else expect.take(16).sameElements(u.take(16))
    if (ok) Some(key) else None
  }

  /** Algorithm 3 (encrypt side, used by the round-trip fixture writer):
    * the /O entry from the owner password (user password when absent).
    */
  def computeO(ownerPwd: Array[Byte], userPwd: Array[Byte], r: Int, keyLenBytes: Int): Array[Byte] = {
    var h = md5(pad(ownerPwd))
    if (r >= 3) { var i = 0; while (i < 50) { h = md5(h); i += 1 } }
    val rc4Key = h.take(keyLenBytes)
    var o = rc4(rc4Key, pad(userPwd))
    if (r >= 3) {
      var i = 1
      while (i <= 19) { o = rc4(rc4Key.map(b => (b ^ i).toByte), o); i += 1 }
    }
    o
  }

  /** §7.6.2 Algorithm 1: per-object key (V<5). AES (/AESV2) appends the
    * "sAlT" marker bytes before hashing.
    */
  def objectKey(fileKey: Array[Byte], num: Int, gen: Int, aes: Boolean = false): Array[Byte] = {
    val ext = Array(
      (num & 0xff).toByte, ((num >> 8) & 0xff).toByte, ((num >> 16) & 0xff).toByte,
      (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte)
    val salt = if (aes) Array('s', 'A', 'l', 'T').map(_.toByte) else Array.emptyByteArray
    md5(fileKey, ext, salt).take(math.min(fileKey.length + 5, 16))
  }

  def decryptString(fileKey: Array[Byte], num: Int, gen: Int, bytes: Array[Byte]): Array[Byte] =
    rc4(objectKey(fileKey, num, gen), bytes)

  /** Same primitive both ways for RC4. */
  def encryptString(fileKey: Array[Byte], num: Int, gen: Int, bytes: Array[Byte]): Array[Byte] =
    decryptString(fileKey, num, gen, bytes)

  /** AESV2 (§7.6.2): payload = 16-byte IV ++ AES-128-CBC ciphertext with
    * PKCS#5 padding, under the salted per-object key. JDK JCE supplies the
    * cipher; only the PDF-specific framing lives here.
    */
  def decryptAes(fileKey: Array[Byte], num: Int, gen: Int, bytes: Array[Byte]): Array[Byte] = {
    if (bytes.length < 16) return Array.emptyByteArray
    val key = objectKey(fileKey, num, gen, aes = true)
    val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(bytes.take(16)))
    c.doFinal(bytes, 16, bytes.length - 16)
  }

  /** Encrypt side for round-trip fixtures; the IV is derived
    * deterministically from the plaintext so the writer stays reproducible.
    */
  def encryptAes(fileKey: Array[Byte], num: Int, gen: Int, bytes: Array[Byte]): Array[Byte] = {
    val key = objectKey(fileKey, num, gen, aes = true)
    val iv = md5(bytes, key).take(16)
    val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    iv ++ c.doFinal(bytes)
  }

  /** Cipher-dispatching decryption for a carrier object's string/stream.
    * A 32-byte key means AES-256/V5 (AESV3): the FILE key encrypts
    * directly — V5 has no per-object key derivation (ISO 32000-2
    * §7.6.3.1); shorter keys dispatch to the V≤4 per-object algorithms.
    */
  def decryptData(fileKey: Array[Byte], aes: Boolean, num: Int, gen: Int, bytes: Array[Byte]): Array[Byte] =
    if (fileKey.length == 32) decryptAesFileKey(fileKey, bytes)
    else if (aes) decryptAes(fileKey, num, gen, bytes)
    else decryptString(fileKey, num, gen, bytes)

  // ------------------------------------------------------------ AES-256 / V5
  private def sha(alg: String, parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance(alg)
    parts.foreach(d.update)
    d.digest()
  }

  /** ISO 32000-2 §7.6.4.3.4 Algorithm 2.B: the R6 iterated password hash.
    * R5 (the withdrawn ExtensionLevel 3 revision) is the plain SHA-256
    * without the loop.
    */
  def hash2B(password: Array[Byte], salt: Array[Byte], udata: Array[Byte], r: Int): Array[Byte] = {
    var k = sha("SHA-256", password, salt, udata)
    if (r == 5) return k
    var round = 0
    var done = false
    var lastE: Array[Byte] = Array.emptyByteArray
    while (!done) {
      val block = password ++ k ++ udata
      val k1 = new Array[Byte](block.length * 64)
      var i = 0
      while (i < 64) { System.arraycopy(block, 0, k1, i * block.length, block.length); i += 1 }
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(k.take(16), "AES"),
        new javax.crypto.spec.IvParameterSpec(k.slice(16, 32)))
      lastE = c.doFinal(k1)
      val mod = lastE.take(16).foldLeft(0)((a, b) => a + (b & 0xff)) % 3
      k = sha(mod match { case 0 => "SHA-256"; case 1 => "SHA-384"; case _ => "SHA-512" }, lastE)
      round += 1
      done = round >= 64 && (lastE.last & 0xff) <= round - 32
    }
    k.take(32)
  }

  private def aes256NoPad(mode: Int, key: Array[Byte], iv: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(mode, new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    c.doFinal(data)
  }
  private val ZeroIv = new Array[Byte](16)

  /** §7.6.4.4.10 Algorithm 11: verify the USER password against /U
    * (48 bytes: hash ++ validation salt ++ key salt); on success §7.6.4.3.3
    * Algorithm 2.A step f decrypts /UE into the 32-byte file key.
    */
  def verifyUserPasswordV5(
      password: Array[Byte], u: Array[Byte], ue: Array[Byte], r: Int): Option[Array[Byte]] = {
    if (u.length < 48 || ue.length < 32) return None
    val vSalt = u.slice(32, 40)
    val kSalt = u.slice(40, 48)
    if (!java.util.Arrays.equals(hash2B(password, vSalt, Array.emptyByteArray, r), u.take(32)))
      return None
    val ik = hash2B(password, kSalt, Array.emptyByteArray, r)
    Some(aes256NoPad(javax.crypto.Cipher.DECRYPT_MODE, ik, ZeroIv, ue.take(32)))
  }

  /** §7.6.4.4.9 Algorithm 12: verify the OWNER password (udata = the full
    * 48-byte /U) and decrypt /OE into the file key.
    */
  def verifyOwnerPasswordV5(
      password: Array[Byte], o: Array[Byte], oe: Array[Byte],
      u: Array[Byte], r: Int): Option[Array[Byte]] = {
    if (o.length < 48 || oe.length < 32 || u.length < 48) return None
    val u48 = u.take(48)
    val vSalt = o.slice(32, 40)
    val kSalt = o.slice(40, 48)
    if (!java.util.Arrays.equals(hash2B(password, vSalt, u48, r), o.take(32)))
      return None
    val ik = hash2B(password, kSalt, u48, r)
    Some(aes256NoPad(javax.crypto.Cipher.DECRYPT_MODE, ik, ZeroIv, oe.take(32)))
  }

  /** AESV3 data decryption: 16-byte IV ++ AES-256-CBC ciphertext under the
    * FILE key (PKCS#5-padded payloads per §7.6.3.3).
    */
  def decryptAesFileKey(fileKey: Array[Byte], bytes: Array[Byte]): Array[Byte] = {
    if (bytes.length < 16) return Array.emptyByteArray
    val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(fileKey, "AES"),
      new javax.crypto.spec.IvParameterSpec(bytes.take(16)))
    c.doFinal(bytes, 16, bytes.length - 16)
  }

  /** Encrypt side (round-trip fixtures): deterministic IV from plaintext. */
  def encryptAesFileKey(fileKey: Array[Byte], bytes: Array[Byte]): Array[Byte] = {
    val iv = md5(bytes, fileKey).take(16)
    val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(fileKey, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    iv ++ c.doFinal(bytes)
  }

  /** Writer-side §7.6.4.4.7/4.8 Algorithms 8+9: build /U,/UE (and /O,/OE
    * from the owner password) for a chosen 32-byte file key, with
    * deterministic salts — the encode side of the V5 round-trip tests.
    */
  def computeV5Entries(
      userPwd: Array[Byte], ownerPwd: Array[Byte], fileKey: Array[Byte], r: Int):
      (Array[Byte], Array[Byte], Array[Byte], Array[Byte]) = {
    require(fileKey.length == 32, "V5 file key is 32 bytes")
    val uvSalt = md5("uv".getBytes, userPwd).take(8)
    val ukSalt = md5("uk".getBytes, userPwd).take(8)
    val u = hash2B(userPwd, uvSalt, Array.emptyByteArray, r) ++ uvSalt ++ ukSalt
    val ue = aes256NoPad(javax.crypto.Cipher.ENCRYPT_MODE,
      hash2B(userPwd, ukSalt, Array.emptyByteArray, r), ZeroIv, fileKey)
    val ovSalt = md5("ov".getBytes, ownerPwd).take(8)
    val okSalt = md5("ok".getBytes, ownerPwd).take(8)
    val o = hash2B(ownerPwd, ovSalt, u, r) ++ ovSalt ++ okSalt
    val oe = aes256NoPad(javax.crypto.Cipher.ENCRYPT_MODE,
      hash2B(ownerPwd, okSalt, u, r), ZeroIv, fileKey)
    (u, ue, o, oe)
  }

  /** §7.6.4.4.12 the /Perms entry: P (little-endian) ++ ffffffff ++
    * 'T'/'F' (EncryptMetadata) ++ "adb" ++ 4 filler bytes, AES-256-ECB
    * under the file key.
    */
  def computePerms(fileKey: Array[Byte], p: Int, encryptMetadata: Boolean): Array[Byte] = {
    val block = new Array[Byte](16)
    System.arraycopy(le4(p), 0, block, 0, 4)
    java.util.Arrays.fill(block, 4, 8, 0xff.toByte)
    block(8) = if (encryptMetadata) 'T'.toByte else 'F'.toByte
    block(9) = 'a'; block(10) = 'd'; block(11) = 'b'
    val c = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(fileKey, "AES"))
    c.doFinal(block)
  }

  /** Decrypt-side /Perms check: returns Some(encryptMetadata) when the
    * "adb" signature validates under the file key.
    */
  def validatePerms(fileKey: Array[Byte], perms: Array[Byte]): Option[Boolean] = {
    if (perms.length < 16) return None
    val c = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
    c.init(javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(fileKey, "AES"))
    val b = c.doFinal(perms.take(16))
    if (b(9) == 'a' && b(10) == 'd' && b(11) == 'b') Some(b(8) == 'T') else None
  }
}
