package graft.conn

import java.io.{EOFException, IOException}
import java.math.BigInteger
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}
import java.security.{KeyFactory, KeyPair, KeyPairGenerator, MessageDigest, PrivateKey, PublicKey, SecureRandom, Signature}
import java.security.interfaces.{EdECPublicKey, XECPublicKey}
import java.security.spec.{EdECPoint, EdECPublicKeySpec, NamedParameterSpec, XECPublicKeySpec}

import scala.collection.mutable

/** SSH2 transport + SFTP v3, both ends, from the PUBLIC specs — RFC 4253
  * (transport), RFC 8731 (curve25519-sha256 kex), RFC 8709 (ssh-ed25519
  * host keys), RFC 4344 (aes128-ctr), RFC 6668 (hmac-sha2-256), RFC 4252
  * (password + publickey userauth), RFC 4254 (session channels), and
  * draft-ietf-secsh-filexfer-02 (SFTP v3 — the dialect every server
  * speaks). Crypto primitives are JCE (X25519/Ed25519/AES-CTR/HMAC);
  * SshSpec pins the raw-byte conventions against the RFC 7748 §6.1 DH
  * vector and the RFC 8032 §7.1 Ed25519 vector.
  *
  * The reference's sftp connectors (internal/impl/sftp/input.go:80
  * sequential glob-path consume with scanner + sftp_path metadata,
  * output.go:149-195 interpolated path, MkdirAll parent, append|truncate
  * open) wrap golang.org/x/crypto/ssh + github.com/pkg/sftp — there is
  * no protocol implementation in the reference to port; this file
  * implements the wire specs directly. Algorithm policy is fixed to the
  * one modern suite above (no negotiation fallback), matching how the
  * fixture server and the per-partition clients are always deployed
  * together.
  */
object Ssh {

  // ------------------------------------------------------------ wire I/O

  /** SSH wire-format writer (RFC 4251 §5 data types). */
  final class WireOut {
    private val buf = new java.io.ByteArrayOutputStream()
    def putByte(b: Int): this.type = { buf.write(b); this }
    def putBool(b: Boolean): this.type = putByte(if (b) 1 else 0)
    def putU32(v: Long): this.type = {
      buf.write(((v >>> 24) & 0xff).toInt); buf.write(((v >>> 16) & 0xff).toInt)
      buf.write(((v >>> 8) & 0xff).toInt); buf.write((v & 0xff).toInt); this
    }
    def putU64(v: Long): this.type = { putU32(v >>> 32); putU32(v & 0xffffffffL) }
    def putRaw(b: Array[Byte]): this.type = { buf.write(b, 0, b.length); this }
    def putString(b: Array[Byte]): this.type = { putU32(b.length.toLong); putRaw(b) }
    def putString(s: String): this.type = putString(s.getBytes(UTF_8))
    /** mpint: two's-complement big-endian, minimal length, zero = empty. */
    def putMpint(v: BigInteger): this.type = {
      if (v.signum() == 0) putU32(0)
      else putString(v.toByteArray) // BigInteger emits the minimal signed form
    }
    def putNameList(names: Seq[String]): this.type = putString(names.mkString(","))
    def result(): Array[Byte] = buf.toByteArray
  }

  /** SSH wire-format reader. */
  final class WireIn(val buf: Array[Byte], private var off: Int = 0) {
    def remaining: Int = buf.length - off
    def getByte(): Int = { val b = buf(off) & 0xff; off += 1; b }
    def getBool(): Boolean = getByte() != 0
    def getU32(): Long = {
      val v = ((buf(off) & 0xffL) << 24) | ((buf(off + 1) & 0xffL) << 16) |
        ((buf(off + 2) & 0xffL) << 8) | (buf(off + 3) & 0xffL)
      off += 4; v
    }
    def getU64(): Long = { val hi = getU32(); val lo = getU32(); (hi << 32) | lo }
    def getStringBytes(): Array[Byte] = {
      val n = getU32().toInt
      if (n < 0 || n > remaining) throw new IOException(s"ssh string length $n out of bounds")
      val out = java.util.Arrays.copyOfRange(buf, off, off + n); off += n; out
    }
    def getString(): String = new String(getStringBytes(), UTF_8)
    def getMpint(): BigInteger = {
      val b = getStringBytes()
      if (b.isEmpty) BigInteger.ZERO else new BigInteger(b)
    }
    def getNameList(): Seq[String] = {
      val s = getString()
      if (s.isEmpty) Nil else s.split(",").toSeq
    }
    def getRaw(n: Int): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(buf, off, off + n); off += n; out
    }
  }

  // --------------------------------------------------------- message ids

  private val MsgDisconnect = 1
  private val MsgIgnore = 2
  private val MsgUnimplemented = 3
  private val MsgDebug = 4
  private val MsgServiceRequest = 5
  private val MsgServiceAccept = 6
  private val MsgKexInit = 20
  private val MsgNewKeys = 21
  private val MsgKexEcdhInit = 30
  private val MsgKexEcdhReply = 31
  private val MsgUserauthRequest = 50
  private val MsgUserauthFailure = 51
  private val MsgUserauthSuccess = 52
  private val MsgUserauthPkOk = 60
  private val MsgGlobalRequest = 80
  private val MsgChannelOpen = 90
  private val MsgChannelOpenConfirmation = 91
  private val MsgChannelOpenFailure = 92
  private val MsgChannelWindowAdjust = 93
  private val MsgChannelData = 94
  private val MsgChannelEof = 96
  private val MsgChannelClose = 97
  private val MsgChannelRequest = 98
  private val MsgChannelSuccess = 99
  private val MsgChannelFailure = 100

  private val KexAlg = "curve25519-sha256"
  private val HostKeyAlg = "ssh-ed25519"
  private val CipherAlg = "aes128-ctr"
  private val MacAlg = "hmac-sha2-256"
  private val Version = "SSH-2.0-graft_0.1"

  // ---------------------------------------------------------- primitives

  /** Raw-byte codecs for the two curve key types (conventions pinned by
    * SshSpec against the RFC 7748 / RFC 8032 vectors). */
  object Curve {
    private def leToBig(le: Array[Byte], maskTop: Boolean): BigInteger = {
      val c = le.clone()
      if (maskTop) c(31) = (c(31) & 0x7f).toByte
      val be = new Array[Byte](32)
      var i = 0; while (i < 32) { be(i) = c(31 - i); i += 1 }
      new BigInteger(1, be)
    }
    private def bigToLe(v: BigInteger): Array[Byte] = {
      val be = v.toByteArray
      val le = new Array[Byte](32)
      var i = 0
      while (i < 32) { val src = be.length - 1 - i; le(i) = if (src >= 0) be(src) else 0; i += 1 }
      le
    }

    def genX25519(): (PrivateKey, Array[Byte]) = {
      val kp = KeyPairGenerator.getInstance("X25519").generateKeyPair()
      (kp.getPrivate, bigToLe(kp.getPublic.asInstanceOf[XECPublicKey].getU))
    }
    /** X25519(priv, peer-public-u) → 32-byte RFC 7748 little-endian output. */
    def sharedSecret(priv: PrivateKey, peerRaw: Array[Byte]): Array[Byte] = {
      require(peerRaw.length == 32, s"X25519 public key must be 32 bytes, got ${peerRaw.length}")
      val kf = KeyFactory.getInstance("X25519")
      val pub = kf.generatePublic(new XECPublicKeySpec(NamedParameterSpec.X25519, leToBig(peerRaw, maskTop = true)))
      val ka = javax.crypto.KeyAgreement.getInstance("X25519")
      ka.init(priv); ka.doPhase(pub, true)
      ka.generateSecret()
    }

    def genEd25519(): KeyPair = KeyPairGenerator.getInstance("Ed25519").generateKeyPair()
    /** RFC 8032 32-byte encoding: little-endian y, x-parity in the top bit. */
    def edPubRaw(pub: PublicKey): Array[Byte] = {
      val pt = pub.asInstanceOf[EdECPublicKey].getPoint
      val le = bigToLe(pt.getY)
      if (pt.isXOdd) le(31) = (le(31) | 0x80).toByte
      le
    }
    def edPubFromRaw(raw: Array[Byte]): PublicKey = {
      require(raw.length == 32, s"Ed25519 public key must be 32 bytes, got ${raw.length}")
      val xOdd = (raw(31) & 0x80) != 0
      val kf = KeyFactory.getInstance("Ed25519")
      kf.generatePublic(new EdECPublicKeySpec(NamedParameterSpec.ED25519, new EdECPoint(xOdd, leToBig(raw, maskTop = true))))
    }
    def edSign(priv: PrivateKey, data: Array[Byte]): Array[Byte] = {
      val s = Signature.getInstance("Ed25519"); s.initSign(priv); s.update(data); s.sign()
    }
    def edVerify(pub: PublicKey, data: Array[Byte], sig: Array[Byte]): Boolean = {
      val s = Signature.getInstance("Ed25519"); s.initVerify(pub); s.update(data); s.verify(sig)
    }
  }

  /** Host key blob: string "ssh-ed25519" + string pub(32)  (RFC 8709 §4). */
  def hostKeyBlob(pubRaw: Array[Byte]): Array[Byte] =
    new WireOut().putString(HostKeyAlg).putString(pubRaw).result()
  def hostKeyFromBlob(blob: Array[Byte]): Array[Byte] = {
    val in = new WireIn(blob)
    val alg = in.getString()
    if (alg != HostKeyAlg) throw new IOException(s"unsupported host key algorithm $alg")
    in.getStringBytes()
  }
  /** Signature blob: string "ssh-ed25519" + string sig(64)  (RFC 8709 §6). */
  def sigBlob(sig: Array[Byte]): Array[Byte] =
    new WireOut().putString(HostKeyAlg).putString(sig).result()
  def sigFromBlob(blob: Array[Byte]): Array[Byte] = {
    val in = new WireIn(blob)
    val alg = in.getString()
    if (alg != HostKeyAlg) throw new IOException(s"unsupported signature algorithm $alg")
    in.getStringBytes()
  }

  /** RFC 4253 §7.2 key derivation: K1 = HASH(K‖H‖X‖session_id), extended
    * by Kn = HASH(K‖H‖K1‖…‖Kn−1) until `len` bytes are available. */
  def deriveKey(k: BigInteger, h: Array[Byte], letter: Char, sessionId: Array[Byte], len: Int): Array[Byte] = {
    val kBytes = new WireOut().putMpint(k).result()
    val md = MessageDigest.getInstance("SHA-256")
    var acc = {
      md.reset(); md.update(kBytes); md.update(h); md.update(letter.toByte); md.update(sessionId); md.digest()
    }
    while (acc.length < len) {
      md.reset(); md.update(kBytes); md.update(h); md.update(acc)
      acc = acc ++ md.digest()
    }
    java.util.Arrays.copyOf(acc, len)
  }

  // ----------------------------------------------------------- transport

  /** RFC 4253 binary packet transport over a connection. Constructing it runs
    * the version exchange, KEXINIT negotiation (fixed single-algorithm
    * lists), the curve25519-sha256 exchange, and NEWKEYS; afterwards all
    * packets ride aes128-ctr + hmac-sha2-256 (encrypt-and-MAC over the
    * plaintext packet with the sequence number prepended).
    *
    * @param hostKey        server role: the Ed25519 host key pair
    * @param expectedHostPub client role: pinned raw host public key
    *                        (None = accept, still signature-verified)
    */
  final class Transport(conn: Wire.Conn, isServer: Boolean,
                        hostKey: Option[KeyPair] = None,
                        expectedHostPub: Option[Array[Byte]] = None) {
    private val (in, out) = (conn.in, conn.out)
    private val rnd = new SecureRandom()
    private var sendSeq = 0L
    private var recvSeq = 0L
    private var encOut: javax.crypto.Cipher = _
    private var encIn: javax.crypto.Cipher = _
    private var macOut: javax.crypto.Mac = _
    private var macIn: javax.crypto.Mac = _
    var sessionId: Array[Byte] = _
    /** Raw server host public key as seen/served (client pins against it). */
    var hostPubRaw: Array[Byte] = _

    // ---- plaintext/encrypted packet framing
    private def blockSize: Int = if (encOut == null) 8 else 16

    def sendPacket(payload: Array[Byte]): Unit = synchronized {
      val bs = blockSize
      var padLen = bs - ((5 + payload.length) % bs)
      if (padLen < 4) padLen += bs
      val pad = new Array[Byte](padLen); rnd.nextBytes(pad)
      val w = new WireOut()
      w.putU32((1 + payload.length + padLen).toLong).putByte(padLen).putRaw(payload).putRaw(pad)
      val pkt = w.result()
      if (encOut == null) out.write(pkt)
      else {
        macOut.reset()
        macOut.update(new WireOut().putU32(sendSeq).result())
        macOut.update(pkt)
        val tag = macOut.doFinal()
        out.write(encOut.update(pkt))
        out.write(tag)
      }
      out.flush()
      sendSeq = (sendSeq + 1) & 0xffffffffL
    }

    private def readExact(n: Int): Array[Byte] = Wire.readExact(in, n, "ssh")

    def readPacket(): Array[Byte] = synchronized {
      val payload =
        if (encIn == null) {
          val lenB = readExact(4)
          val len = new WireIn(lenB).getU32().toInt
          if (len < 1 || len > (1 << 20)) throw new IOException(s"bad ssh packet length $len")
          val rest = readExact(len)
          val padLen = rest(0) & 0xff
          java.util.Arrays.copyOfRange(rest, 1, len - padLen)
        } else {
          val first = encIn.update(readExact(16))
          val len = new WireIn(first).getU32().toInt
          if (len < 1 || len > (1 << 20)) throw new IOException(s"bad ssh packet length $len")
          // 16 − 4 length bytes of ciphertext were consumed with the first
          // block; a minimal packet has len == 12 and Cipher.update returns
          // null on empty input
          val rest = if (len == 12) Array.emptyByteArray
            else encIn.update(readExact(len - 12))
          val tag = readExact(32)
          macIn.reset()
          macIn.update(new WireOut().putU32(recvSeq).result())
          macIn.update(first); macIn.update(rest)
          if (!MessageDigest.isEqual(macIn.doFinal(), tag))
            throw new IOException("ssh MAC verification failed")
          val pkt = first ++ rest
          val padLen = pkt(4) & 0xff
          java.util.Arrays.copyOfRange(pkt, 5, 4 + len - padLen)
        }
      recvSeq = (recvSeq + 1) & 0xffffffffL
      payload
    }

    /** Read the next packet, transparently absorbing IGNORE/DEBUG/
      * UNIMPLEMENTED and raising on DISCONNECT. */
    def readMsg(): Array[Byte] = {
      while (true) {
        val p = readPacket()
        (p(0) & 0xff) match {
          case MsgIgnore | MsgDebug | MsgUnimplemented => ()
          case MsgDisconnect =>
            val w = new WireIn(p); w.getByte(); w.getU32()
            throw new IOException(s"ssh disconnect: ${w.getString()}")
          case _ => return p
        }
      }
      throw new IllegalStateException("unreachable")
    }

    // ---- handshake
    private def kexInitPayload(): Array[Byte] = {
      val cookie = new Array[Byte](16); rnd.nextBytes(cookie)
      new WireOut().putByte(MsgKexInit).putRaw(cookie)
        .putNameList(Seq(KexAlg)).putNameList(Seq(HostKeyAlg))
        .putNameList(Seq(CipherAlg)).putNameList(Seq(CipherAlg))
        .putNameList(Seq(MacAlg)).putNameList(Seq(MacAlg))
        .putNameList(Seq("none")).putNameList(Seq("none"))
        .putNameList(Nil).putNameList(Nil)
        .putBool(false).putU32(0).result()
    }
    private def checkPeerKexInit(p: Array[Byte]): Unit = {
      val w = new WireIn(p)
      if (w.getByte() != MsgKexInit) throw new IOException("expected KEXINIT")
      w.getRaw(16)
      def need(what: String, mine: String): Unit = {
        val theirs = w.getNameList()
        if (!theirs.contains(mine)) throw new IOException(s"no common $what: offered ${theirs.mkString(",")}")
      }
      need("kex", KexAlg); need("host key", HostKeyAlg)
      need("cipher c2s", CipherAlg); need("cipher s2c", CipherAlg)
      need("mac c2s", MacAlg); need("mac s2c", MacAlg)
      need("compression c2s", "none"); need("compression s2c", "none")
    }

    private def enableCrypto(k: BigInteger, h: Array[Byte]): Unit = {
      if (sessionId == null) sessionId = h
      def cipher(mode: Int, keyLetter: Char, ivLetter: Char): javax.crypto.Cipher = {
        val c = javax.crypto.Cipher.getInstance("AES/CTR/NoPadding")
        c.init(mode,
          new javax.crypto.spec.SecretKeySpec(deriveKey(k, h, keyLetter, sessionId, 16), "AES"),
          new javax.crypto.spec.IvParameterSpec(deriveKey(k, h, ivLetter, sessionId, 16)))
        c
      }
      def mac(letter: Char): javax.crypto.Mac = {
        val m = javax.crypto.Mac.getInstance("HmacSHA256")
        m.init(new javax.crypto.spec.SecretKeySpec(deriveKey(k, h, letter, sessionId, 32), "HmacSHA256"))
        m
      }
      // letters per RFC 4253 §7.2: IV c2s 'A' / s2c 'B'; enc key c2s 'C' /
      // s2c 'D'; MAC key c2s 'E' / s2c 'F'
      if (isServer) {
        encIn = cipher(javax.crypto.Cipher.DECRYPT_MODE, 'C', 'A')
        encOut = cipher(javax.crypto.Cipher.ENCRYPT_MODE, 'D', 'B')
        macIn = mac('E'); macOut = mac('F')
      } else {
        encOut = cipher(javax.crypto.Cipher.ENCRYPT_MODE, 'C', 'A')
        encIn = cipher(javax.crypto.Cipher.DECRYPT_MODE, 'D', 'B')
        macOut = mac('E'); macIn = mac('F')
      }
    }

    /** Exchange hash H (RFC 8731 §3.2 field order; K re-read as a
      * big-endian unsigned integer then mpint-encoded). */
    private def exchangeHash(vC: String, vS: String, iC: Array[Byte], iS: Array[Byte],
                             kS: Array[Byte], qC: Array[Byte], qS: Array[Byte], k: BigInteger): Array[Byte] = {
      val w = new WireOut()
      w.putString(vC).putString(vS).putString(iC).putString(iS)
        .putString(kS).putString(qC).putString(qS).putMpint(k)
      MessageDigest.getInstance("SHA-256").digest(w.result())
    }

    // run the handshake inline at construction
    {
      // version exchange: one CR-LF line each way; a server may precede
      // its version with banner lines (RFC 4253 §4.2) — skip non-SSH lines
      out.write((Version + "\r\n").getBytes(UTF_8)); out.flush()
      def readLine(): String = Wire.readLineLf(in, "ssh")
      var peerVersion = readLine()
      while (!peerVersion.startsWith("SSH-")) peerVersion = readLine()
      if (!peerVersion.startsWith("SSH-2.0-"))
        throw new IOException(s"unsupported ssh version: $peerVersion")
      val (vC, vS) = if (isServer) (peerVersion, Version) else (Version, peerVersion)

      val myKexInit = kexInitPayload()
      sendPacket(myKexInit)
      val peerKexInit = readMsg()
      checkPeerKexInit(peerKexInit)
      val (iC, iS) = if (isServer) (peerKexInit, myKexInit) else (myKexInit, peerKexInit)

      if (isServer) {
        val hk = hostKey.getOrElse(throw new IllegalArgumentException("server transport needs a host key"))
        hostPubRaw = Curve.edPubRaw(hk.getPublic)
        val init = new WireIn(readMsg())
        if (init.getByte() != MsgKexEcdhInit) throw new IOException("expected KEX_ECDH_INIT")
        val qC = init.getStringBytes()
        val (priv, qS) = Curve.genX25519()
        val k = new BigInteger(1, Curve.sharedSecret(priv, qC))
        val kS = hostKeyBlob(hostPubRaw)
        val h = exchangeHash(vC, vS, iC, iS, kS, qC, qS, k)
        val sig = Curve.edSign(hk.getPrivate, h)
        sendPacket(new WireOut().putByte(MsgKexEcdhReply)
          .putString(kS).putString(qS).putString(sigBlob(sig)).result())
        sendPacket(Array(MsgNewKeys.toByte))
        val nk = new WireIn(readMsg())
        if (nk.getByte() != MsgNewKeys) throw new IOException("expected NEWKEYS")
        enableCrypto(k, h)
      } else {
        val (priv, qC) = Curve.genX25519()
        sendPacket(new WireOut().putByte(MsgKexEcdhInit).putString(qC).result())
        val rep = new WireIn(readMsg())
        if (rep.getByte() != MsgKexEcdhReply) throw new IOException("expected KEX_ECDH_REPLY")
        val kS = rep.getStringBytes()
        val qS = rep.getStringBytes()
        val sig = sigFromBlob(rep.getStringBytes())
        hostPubRaw = hostKeyFromBlob(kS)
        expectedHostPub.foreach { exp =>
          if (!java.util.Arrays.equals(exp, hostPubRaw))
            throw new IOException("ssh host key mismatch (pinned key differs)")
        }
        val k = new BigInteger(1, Curve.sharedSecret(priv, qS))
        val h = exchangeHash(vC, vS, iC, iS, kS, qC, qS, k)
        if (!Curve.edVerify(Curve.edPubFromRaw(hostPubRaw), h, sig))
          throw new IOException("ssh host key signature verification failed")
        val nk = new WireIn(readMsg())
        if (nk.getByte() != MsgNewKeys) throw new IOException("expected NEWKEYS")
        sendPacket(Array(MsgNewKeys.toByte))
        enableCrypto(k, h)
      }
    }

    def close(): Unit = conn.close()
  }

  // -------------------------------------------------------- channel pipe

  private val ChannelWindow = 1 << 21 // 2 MiB initial window each side
  private val ChannelMaxPacket = 32768

  /** One open session channel as a byte pipe. Single-threaded by design:
    * reads pump the transport (absorbing WINDOW_ADJUST and replenishing
    * the peer's view of our window once half is consumed); writes pump
    * while blocked on the remote window. */
  final class ChannelPipe(tr: Transport, localId: Long, remoteId: Long,
                          private var remoteWindow: Long, remoteMaxPacket: Long) {
    private var pending: Array[Byte] = Array.emptyByteArray
    private var pendingOff = 0
    private var localConsumed = 0L
    private var eof = false

    private def dispatch(p: Array[Byte]): Option[Array[Byte]] = {
      val w = new WireIn(p)
      (w.getByte() & 0xff) match {
        case MsgChannelData =>
          w.getU32()
          val data = w.getStringBytes()
          localConsumed += data.length
          if (localConsumed > ChannelWindow / 2) {
            tr.sendPacket(new WireOut().putByte(MsgChannelWindowAdjust)
              .putU32(remoteId).putU32(localConsumed).result())
            localConsumed = 0
          }
          Some(data)
        case MsgChannelWindowAdjust =>
          w.getU32(); remoteWindow += w.getU32(); None
        case MsgChannelEof | MsgChannelClose =>
          eof = true; None
        case MsgGlobalRequest => None // e.g. keepalives; no reply wanted from fixtures
        case other => throw new IOException(s"unexpected ssh message $other on channel")
      }
    }

    /** Read up to `n` bytes (exactly `n` unless EOF). */
    def readExact(n: Int): Array[Byte] = {
      val out = new Array[Byte](n)
      var off = 0
      while (off < n) {
        if (pendingOff < pending.length) {
          val take = math.min(n - off, pending.length - pendingOff)
          System.arraycopy(pending, pendingOff, out, off, take)
          pendingOff += take; off += take
        } else if (eof) throw new EOFException(s"ssh channel closed at $off/$n bytes")
        else dispatch(tr.readMsg()).foreach { d => pending = d; pendingOff = 0 }
      }
      out
    }

    def write(data: Array[Byte]): Unit = {
      var off = 0
      while (off < data.length) {
        while (remoteWindow <= 0 && !eof)
          dispatch(tr.readMsg()).foreach { d =>
            // surfacing data mid-write would reorder the pipe; stash it
            pending = if (pendingOff < pending.length)
              java.util.Arrays.copyOfRange(pending, pendingOff, pending.length) ++ d else d
            pendingOff = 0
          }
        if (eof) throw new EOFException("ssh channel closed during write")
        val take = math.min(math.min(data.length - off, remoteMaxPacket.toInt), ChannelMaxPacket)
        val chunk = math.min(take.toLong, remoteWindow).toInt
        tr.sendPacket(new WireOut().putByte(MsgChannelData).putU32(remoteId)
          .putString(java.util.Arrays.copyOfRange(data, off, off + chunk)).result())
        remoteWindow -= chunk; off += chunk
      }
    }

    def sendEof(): Unit =
      tr.sendPacket(new WireOut().putByte(MsgChannelEof).putU32(remoteId).result())
  }

  // ------------------------------------------------------------- SFTP v3

  // draft-ietf-secsh-filexfer-02 packet types
  private val FxpInit = 1
  private val FxpVersion = 2
  private val FxpOpen = 3
  private val FxpClose = 4
  private val FxpRead = 5
  private val FxpWrite = 6
  private val FxpLstat = 7
  private val FxpOpendir = 11
  private val FxpReaddir = 12
  private val FxpRemove = 13
  private val FxpMkdir = 14
  private val FxpRmdir = 15
  private val FxpRealpath = 16
  private val FxpStat = 17
  private val FxpRename = 18
  private val FxpStatus = 101
  private val FxpHandle = 102
  private val FxpData = 103
  private val FxpName = 104
  private val FxpAttrs = 105

  // SSH_FXF_* open flags
  val FxfRead = 1
  val FxfWrite = 2
  val FxfAppend = 4
  val FxfCreat = 8
  val FxfTrunc = 16
  val FxfExcl = 32

  // SSH_FX_* status codes
  val FxOk = 0
  val FxEof = 1
  val FxNoSuchFile = 2
  val FxPermissionDenied = 3
  val FxFailure = 4
  val FxOpUnsupported = 8

  private val AttrSize = 1
  private val AttrPerms = 4
  private val AttrAcModTime = 8

  /** Minimal v3 ATTRS: size + permissions + atime/mtime. */
  final case class Attrs(size: Long, perms: Int, mtimeSec: Long, isDir: Boolean)

  private def writeAttrs(w: WireOut, a: Attrs): Unit = {
    w.putU32((AttrSize | AttrPerms | AttrAcModTime).toLong)
    w.putU64(a.size)
    val kind = if (a.isDir) 0x4000 else 0x8000 // S_IFDIR / S_IFREG
    w.putU32((kind | a.perms).toLong)
    w.putU32(a.mtimeSec); w.putU32(a.mtimeSec)
  }
  private def readAttrs(r: WireIn): Attrs = {
    val flags = r.getU32()
    val size = if ((flags & AttrSize) != 0) r.getU64() else 0L
    if ((flags & 2) != 0) { r.getU32(); r.getU32() } // uid/gid
    val rawPerms = if ((flags & AttrPerms) != 0) r.getU32().toInt else 0
    var mtime = 0L
    if ((flags & AttrAcModTime) != 0) { r.getU32(); mtime = r.getU32() }
    Attrs(size, rawPerms & 0xfff, mtime, (rawPerms & 0xf000) == 0x4000)
  }

  final case class SftpStatusException(code: Int, msg: String)
    extends IOException(s"sftp status $code: $msg")

  /** SFTP v3 client over an established, authenticated transport. One
    * instance per Spark partition in the operators — the same one-client-
    * per-component shape as the reference (input.go:162 Connect). */
  final class SftpClient private[Ssh] (tr: Transport, chan: ChannelPipe) extends AutoCloseable {
    private var nextId = 0L

    // ---- framing: uint32 length | byte type | payload
    private def sendPkt(tpe: Int, body: WireOut): Unit = {
      val b = body.result()
      chan.write(new WireOut().putU32((1 + b.length).toLong).putByte(tpe).putRaw(b).result())
    }
    private def recvPkt(): (Int, WireIn) = {
      val len = new WireIn(chan.readExact(4)).getU32().toInt
      if (len < 1 || len > (1 << 20)) throw new IOException(s"bad sftp packet length $len")
      val body = chan.readExact(len)
      ((body(0) & 0xff), new WireIn(body, 1))
    }
    private def rpc(tpe: Int, body: WireOut): (Int, WireIn) = {
      val id = { nextId += 1; nextId }
      sendPkt(tpe, new WireOut().putU32(id).putRaw(body.result()))
      val (rt, r) = recvPkt()
      val gotId = r.getU32()
      if (gotId != id) throw new IOException(s"sftp response id $gotId != $id")
      (rt, r)
    }
    private def status(rt: Int, r: WireIn): Unit = {
      if (rt != FxpStatus) throw new IOException(s"expected SSH_FXP_STATUS, got $rt")
      val code = r.getU32().toInt
      val msg = if (r.remaining >= 4) r.getString() else ""
      if (code != FxOk) throw SftpStatusException(code, msg)
    }

    private[Ssh] def init(): Unit = {
      chan.write(new WireOut().putU32(5L).putByte(FxpInit).putU32(3L).result())
      val (rt, r) = recvPkt()
      if (rt != FxpVersion) throw new IOException(s"expected SSH_FXP_VERSION, got $rt")
      val v = r.getU32()
      if (v != 3) throw new IOException(s"sftp version $v unsupported")
    }

    def open(path: String, pflags: Int): Array[Byte] = {
      val (rt, r) = rpc(FxpOpen, new WireOut().putString(path).putU32(pflags.toLong).putU32(0L))
      if (rt == FxpHandle) r.getStringBytes()
      else { status(rt, r); throw new IllegalStateException("unreachable") }
    }
    def closeHandle(h: Array[Byte]): Unit = {
      val (rt, r) = rpc(FxpClose, new WireOut().putString(h)); status(rt, r)
    }
    def read(h: Array[Byte], offset: Long, len: Int): Option[Array[Byte]] = {
      val (rt, r) = rpc(FxpRead, new WireOut().putString(h).putU64(offset).putU32(len.toLong))
      rt match {
        case FxpData => Some(r.getStringBytes())
        case FxpStatus =>
          val code = r.getU32().toInt
          if (code == FxEof) None
          else throw SftpStatusException(code, if (r.remaining >= 4) r.getString() else "")
        case other => throw new IOException(s"unexpected sftp read response $other")
      }
    }
    def write(h: Array[Byte], offset: Long, data: Array[Byte]): Unit = {
      val (rt, r) = rpc(FxpWrite, new WireOut().putString(h).putU64(offset).putString(data))
      status(rt, r)
    }
    def stat(path: String): Attrs = {
      val (rt, r) = rpc(FxpStat, new WireOut().putString(path))
      if (rt == FxpAttrs) readAttrs(r)
      else { status(rt, r); throw new IllegalStateException("unreachable") }
    }
    def exists(path: String): Boolean =
      try { stat(path); true } catch { case SftpStatusException(FxNoSuchFile, _) => false }
    def mkdir(path: String): Unit = {
      val (rt, r) = rpc(FxpMkdir, new WireOut().putString(path).putU32(0L)); status(rt, r)
    }
    /** MkdirAll analog (output.go:173): create missing ancestors, tolerate
      * already-exists races from sibling partitions. */
    def mkdirs(path: String): Unit = {
      val parts = path.split("/").filter(_.nonEmpty)
      var cur = ""
      parts.foreach { seg =>
        cur = cur + "/" + seg
        if (!exists(cur))
          try mkdir(cur) catch { case SftpStatusException(FxFailure, _) => () }
      }
    }
    def remove(path: String): Unit = {
      val (rt, r) = rpc(FxpRemove, new WireOut().putString(path)); status(rt, r)
    }
    def rmdir(path: String): Unit = {
      val (rt, r) = rpc(FxpRmdir, new WireOut().putString(path)); status(rt, r)
    }
    def rename(from: String, to: String): Unit = {
      val (rt, r) = rpc(FxpRename, new WireOut().putString(from).putString(to)); status(rt, r)
    }
    def realpath(path: String): String = {
      val (rt, r) = rpc(FxpRealpath, new WireOut().putString(path))
      if (rt == FxpName) { r.getU32(); r.getString() }
      else { status(rt, r); throw new IllegalStateException("unreachable") }
    }
    def listDir(path: String): Vector[(String, Attrs)] = {
      val (rt0, r0) = rpc(FxpOpendir, new WireOut().putString(path))
      val h = if (rt0 == FxpHandle) r0.getStringBytes()
        else { status(rt0, r0); throw new IllegalStateException("unreachable") }
      val out = Vector.newBuilder[(String, Attrs)]
      try {
        var done = false
        while (!done) {
          val (rt, r) = rpc(FxpReaddir, new WireOut().putString(h))
          rt match {
            case FxpName =>
              val n = r.getU32().toInt
              var i = 0
              while (i < n) {
                val name = r.getString(); r.getString() // longname unused
                val attrs = readAttrs(r)
                if (name != "." && name != "..") out += ((name, attrs))
                i += 1
              }
            case FxpStatus =>
              val code = r.getU32().toInt
              if (code != FxEof) throw SftpStatusException(code, if (r.remaining >= 4) r.getString() else "")
              done = true
            case other => throw new IOException(s"unexpected readdir response $other")
          }
        }
      } finally closeHandle(h)
      out.result()
    }

    /** Glob over the final path segment (`*`/`?`), the shape the
      * reference's `paths` field uses (input.go:51); non-glob paths pass
      * through. Returns matching file paths sorted for the sequential
      * consume order. */
    def glob(pattern: String): Vector[String] = {
      if (!pattern.exists(c => c == '*' || c == '?')) return Vector(pattern)
      val slash = pattern.lastIndexOf('/')
      val (dir, pat) = (if (slash <= 0) "/" else pattern.substring(0, slash), pattern.substring(slash + 1))
      val rx = java.util.regex.Pattern.compile(
        pat.flatMap {
          case '*' => ".*"
          case '?' => "."
          case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
          case c => c.toString
        })
      listDir(dir).collect { case (n, a) if !a.isDir && rx.matcher(n).matches() => s"$dir/$n" }
        .sorted
    }

    /** Download a whole file in 32 KiB reads. */
    def readAll(path: String): Array[Byte] = {
      val h = open(path, FxfRead)
      val buf = new java.io.ByteArrayOutputStream()
      try {
        var off = 0L
        var done = false
        while (!done) read(h, off, 32768) match {
          case Some(d) => buf.write(d, 0, d.length); off += d.length
          case None => done = true
        }
      } finally closeHandle(h)
      buf.toByteArray
    }

    /** Upload: truncate-create (the output's non-append open, output.go:167-171),
      * parents created on demand. */
    def writeAll(path: String, data: Array[Byte], append: Boolean = false): Unit = {
      val slash = path.lastIndexOf('/')
      if (slash > 0) mkdirs(path.substring(0, slash))
      val flags = if (append) FxfWrite | FxfCreat | FxfAppend else FxfWrite | FxfCreat | FxfTrunc
      val h = open(path, flags)
      try {
        val base = if (append) stat(path).size else 0L
        var off = 0
        while (off < data.length) {
          val n = math.min(32768, data.length - off)
          write(h, base + off, java.util.Arrays.copyOfRange(data, off, off + n))
          off += n
        }
      } finally closeHandle(h)
    }

    override def close(): Unit = { try chan.sendEof() catch { case _: Throwable => () }; tr.close() }
  }

  /** Client credentials — the reference's `credentials` object
    * (shared.go:16-24: password and/or private key). */
  final case class Creds(user: String, password: Option[String] = None,
                         ed25519Key: Option[KeyPair] = None)

  /** Dial + handshake + auth + open the sftp subsystem. */
  def connect(address: String, creds: Creds, pinnedHostPub: Option[Array[Byte]] = None): SftpClient = {
    val tr = new Transport(Wire.connect("ssh", address), isServer = false,
      expectedHostPub = pinnedHostPub)
    // userauth (RFC 4252)
    tr.sendPacket(new WireOut().putByte(MsgServiceRequest).putString("ssh-userauth").result())
    val acc = new WireIn(tr.readMsg())
    if (acc.getByte() != MsgServiceAccept) throw new IOException("expected SERVICE_ACCEPT")
    val authed = creds match {
      case Creds(user, _, Some(kp)) =>
        val pubBlob = hostKeyBlob(Curve.edPubRaw(kp.getPublic))
        val signedOver = new WireOut().putString(tr.sessionId)
          .putByte(MsgUserauthRequest).putString(user).putString("ssh-connection")
          .putString("publickey").putBool(true).putString(HostKeyAlg).putString(pubBlob).result()
        val sig = Curve.edSign(kp.getPrivate, signedOver)
        tr.sendPacket(new WireOut().putByte(MsgUserauthRequest).putString(user)
          .putString("ssh-connection").putString("publickey").putBool(true)
          .putString(HostKeyAlg).putString(pubBlob).putString(sigBlob(sig)).result())
        (new WireIn(tr.readMsg()).getByte() & 0xff) == MsgUserauthSuccess
      case Creds(user, Some(pw), None) =>
        tr.sendPacket(new WireOut().putByte(MsgUserauthRequest).putString(user)
          .putString("ssh-connection").putString("password").putBool(false).putString(pw).result())
        (new WireIn(tr.readMsg()).getByte() & 0xff) == MsgUserauthSuccess
      case _ => throw new IllegalArgumentException("credentials need a password or a key")
    }
    if (!authed) { tr.close(); throw new IOException("ssh authentication failed") }
    // session channel + sftp subsystem (RFC 4254 §5.1, §6.5)
    tr.sendPacket(new WireOut().putByte(MsgChannelOpen).putString("session")
      .putU32(0L).putU32(ChannelWindow.toLong).putU32(ChannelMaxPacket.toLong).result())
    val conf = new WireIn(tr.readMsg())
    (conf.getByte() & 0xff) match {
      case MsgChannelOpenConfirmation => ()
      case MsgChannelOpenFailure => throw new IOException("ssh channel open failed")
      case other => throw new IOException(s"unexpected channel open response $other")
    }
    conf.getU32() // recipient (our) id = 0
    val remoteId = conf.getU32()
    val remoteWindow = conf.getU32()
    val remoteMax = conf.getU32()
    tr.sendPacket(new WireOut().putByte(MsgChannelRequest).putU32(remoteId)
      .putString("subsystem").putBool(true).putString("sftp").result())
    val chan = new ChannelPipe(tr, 0, remoteId, remoteWindow, remoteMax)
    // CHANNEL_SUCCESS may interleave with nothing else here; read directly
    val rsp = new WireIn(tr.readMsg())
    (rsp.getByte() & 0xff) match {
      case MsgChannelSuccess => ()
      case MsgChannelFailure => throw new IOException("sftp subsystem rejected")
      case other => throw new IOException(s"unexpected subsystem response $other")
    }
    val client = new SftpClient(tr, chan)
    client.init()
    client
  }

  // ------------------------------------------------------------- server

  /** Minimal SSH+SFTP server rooted at a local directory: fixed user with
    * password and/or authorized Ed25519 key, one session channel per
    * connection, SFTP v3 subsystem with root confinement. */
  final class MiniSshd(root: Path, user: String, password: String,
                       authorizedKey: Option[Array[Byte]] = None) {
    private val hostKeyPair = Curve.genEd25519()
    private var listener: Wire.Listener = _

    def hostPubRaw: Array[Byte] = Curve.edPubRaw(hostKeyPair.getPublic)

    def start(): MiniSshd = { listener = Wire.listen("mini-sshd")(serve); this }
    def port: Int = listener.port
    def address: String = s"127.0.0.1:$port"
    def stop(): Unit = listener.close()

    /** A refused client (wrong service, no sftp subsystem, bad packet)
      * ends here with an IOException: the fixture hanging up, not a
      * fault of its own. */
    private def serve(c: Wire.Conn): Unit = try serveSession(c) catch { case _: IOException => () }

    private def serveSession(c: Wire.Conn): Unit = {
      val tr = new Transport(c, isServer = true, hostKey = Some(hostKeyPair))
      // userauth
      val sreq = new WireIn(tr.readMsg())
      if (sreq.getByte() != MsgServiceRequest || sreq.getString() != "ssh-userauth")
        throw new IOException("expected ssh-userauth service request")
      tr.sendPacket(new WireOut().putByte(MsgServiceAccept).putString("ssh-userauth").result())
      var authed = false
      while (!authed) {
        val req = new WireIn(tr.readMsg())
        if (req.getByte() != MsgUserauthRequest) throw new IOException("expected USERAUTH_REQUEST")
        val u = req.getString(); req.getString() // service
        val ok = req.getString() match {
          case "password" =>
            req.getBool()
            val pw = req.getString()
            u == user && pw == password
          case "publickey" =>
            val hasSig = req.getBool()
            val alg = req.getString()
            val blob = req.getStringBytes()
            val keyOk = alg == HostKeyAlg && u == user &&
              authorizedKey.exists(java.util.Arrays.equals(_, hostKeyFromBlob(blob)))
            if (!hasSig) {
              if (keyOk) {
                tr.sendPacket(new WireOut().putByte(MsgUserauthPkOk)
                  .putString(alg).putString(blob).result())
              }
              false // either PK_OK sent (client re-requests with sig) or fall to failure
            } else {
              val sig = sigFromBlob(req.getStringBytes())
              val signedOver = new WireOut().putString(tr.sessionId)
                .putByte(MsgUserauthRequest).putString(u).putString("ssh-connection")
                .putString("publickey").putBool(true).putString(alg).putString(blob).result()
              keyOk && Curve.edVerify(Curve.edPubFromRaw(hostKeyFromBlob(blob)), signedOver, sig)
            }
          case _ => false
        }
        if (ok) { tr.sendPacket(Array(MsgUserauthSuccess.toByte)); authed = true }
        else tr.sendPacket(new WireOut().putByte(MsgUserauthFailure)
          .putNameList(Seq("password", "publickey")).putBool(false).result())
      }
      // session channel
      val open = new WireIn(tr.readMsg())
      if (open.getByte() != MsgChannelOpen || open.getString() != "session")
        throw new IOException("expected session CHANNEL_OPEN")
      val clientId = open.getU32()
      val clientWindow = open.getU32()
      val clientMax = open.getU32()
      tr.sendPacket(new WireOut().putByte(MsgChannelOpenConfirmation)
        .putU32(clientId).putU32(0L).putU32(ChannelWindow.toLong).putU32(ChannelMaxPacket.toLong).result())
      val creq = new WireIn(tr.readMsg())
      if (creq.getByte() != MsgChannelRequest) throw new IOException("expected CHANNEL_REQUEST")
      creq.getU32()
      val isSftp = creq.getString() == "subsystem" && { creq.getBool(); creq.getString() == "sftp" }
      if (!isSftp) {
        tr.sendPacket(new WireOut().putByte(MsgChannelFailure).putU32(clientId).result())
        throw new IOException("only the sftp subsystem is served")
      }
      tr.sendPacket(new WireOut().putByte(MsgChannelSuccess).putU32(clientId).result())
      val chan = new ChannelPipe(tr, 0, clientId, clientWindow, clientMax)
      sftpServe(chan)
    }

    // ---- SFTP v3 server
    private def resolve(path: String): Path = {
      val rel = path.dropWhile(_ == '/')
      val p = if (rel.isEmpty) root else root.resolve(rel).normalize()
      if (!p.startsWith(root))
        throw SftpStatusException(FxPermissionDenied, "path escapes the served root")
      p
    }
    private def attrsOf(p: Path): Attrs = {
      val isDir = Files.isDirectory(p)
      Attrs(if (isDir) 0 else Files.size(p), if (isDir) 0x1ed else 0x1a4, // 755 / 644
        Files.getLastModifiedTime(p).toMillis / 1000, isDir)
    }

    private def sftpServe(chan: ChannelPipe): Unit = {
      val handles = mutable.HashMap[String, java.nio.channels.FileChannel]()
      val dirHandles = mutable.HashMap[String, Iterator[Vector[(String, Attrs)]]]()
      var handleGen = 0L
      def newHandle(): String = { handleGen += 1; s"h$handleGen" }

      def send(tpe: Int, body: WireOut): Unit = {
        val b = body.result()
        chan.write(new WireOut().putU32((1 + b.length).toLong).putByte(tpe).putRaw(b).result())
      }
      def sendStatus(id: Long, code: Int, msg: String): Unit =
        send(FxpStatus, new WireOut().putU32(id).putU32(code.toLong).putString(msg).putString(""))

      try {
        // INIT/VERSION
        val initLen = new WireIn(chan.readExact(4)).getU32().toInt
        val init = new WireIn(chan.readExact(initLen))
        if (init.getByte() != FxpInit) throw new IOException("expected SSH_FXP_INIT")
        send(FxpVersion, new WireOut().putU32(3L))

        while (true) {
          val len = new WireIn(chan.readExact(4)).getU32().toInt
          if (len < 1 || len > (1 << 20)) throw new IOException(s"bad sftp packet length $len")
          val body = chan.readExact(len)
          val tpe = body(0) & 0xff
          val r = new WireIn(body, 1)
          val id = r.getU32()
          try tpe match {
            case FxpOpen =>
              val p = resolve(r.getString())
              val pflags = r.getU32().toInt
              val opts = mutable.ArrayBuffer[StandardOpenOption]()
              if ((pflags & FxfRead) != 0) opts += StandardOpenOption.READ
              if ((pflags & FxfWrite) != 0) opts += StandardOpenOption.WRITE
              if ((pflags & FxfAppend) != 0) opts += StandardOpenOption.APPEND
              if ((pflags & FxfCreat) != 0) opts += StandardOpenOption.CREATE
              if ((pflags & FxfTrunc) != 0) opts += StandardOpenOption.TRUNCATE_EXISTING
              if ((pflags & FxfExcl) != 0) opts += StandardOpenOption.CREATE_NEW
              val fc = java.nio.channels.FileChannel.open(p, opts.toSeq: _*)
              val h = newHandle(); handles(h) = fc
              send(FxpHandle, new WireOut().putU32(id).putString(h))
            case FxpClose =>
              val h = new String(r.getStringBytes(), UTF_8)
              handles.remove(h).foreach(_.close())
              dirHandles.remove(h)
              sendStatus(id, FxOk, "")
            case FxpRead =>
              val h = new String(r.getStringBytes(), UTF_8)
              val off = r.getU64(); val n = r.getU32().toInt
              val fc = handles.getOrElse(h, throw SftpStatusException(FxFailure, "bad handle"))
              val bb = java.nio.ByteBuffer.allocate(math.min(n, 1 << 20))
              val got = fc.read(bb, off)
              if (got <= 0) sendStatus(id, FxEof, "eof")
              else send(FxpData, new WireOut().putU32(id)
                .putString(java.util.Arrays.copyOf(bb.array(), got)))
            case FxpWrite =>
              val h = new String(r.getStringBytes(), UTF_8)
              val off = r.getU64(); val data = r.getStringBytes()
              val fc = handles.getOrElse(h, throw SftpStatusException(FxFailure, "bad handle"))
              fc.write(java.nio.ByteBuffer.wrap(data), off)
              sendStatus(id, FxOk, "")
            case FxpStat | FxpLstat =>
              val p = resolve(r.getString())
              if (!Files.exists(p)) sendStatus(id, FxNoSuchFile, "no such file")
              else { val w = new WireOut().putU32(id); writeAttrs(w, attrsOf(p)); send(FxpAttrs, w) }
            case FxpOpendir =>
              val p = resolve(r.getString())
              if (!Files.isDirectory(p)) sendStatus(id, FxNoSuchFile, "not a directory")
              else {
                import scala.jdk.CollectionConverters._
                val entries = Files.list(p).iterator().asScala
                  .map(e => (e.getFileName.toString, attrsOf(e))).toVector
                val h = newHandle()
                dirHandles(h) = entries.grouped(64)
                send(FxpHandle, new WireOut().putU32(id).putString(h))
              }
            case FxpReaddir =>
              val h = new String(r.getStringBytes(), UTF_8)
              val it = dirHandles.getOrElse(h, throw SftpStatusException(FxFailure, "bad handle"))
              if (!it.hasNext) sendStatus(id, FxEof, "eof")
              else {
                val batch = it.next()
                val w = new WireOut().putU32(id).putU32(batch.size.toLong)
                batch.foreach { case (name, a) =>
                  w.putString(name).putString(name); writeAttrs(w, a)
                }
                send(FxpName, w)
              }
            case FxpMkdir =>
              val p = resolve(r.getString())
              if (Files.exists(p)) sendStatus(id, FxFailure, "exists")
              else { Files.createDirectory(p); sendStatus(id, FxOk, "") }
            case FxpRemove =>
              val p = resolve(r.getString())
              if (!Files.isRegularFile(p)) sendStatus(id, FxNoSuchFile, "no such file")
              else { Files.delete(p); sendStatus(id, FxOk, "") }
            case FxpRmdir =>
              val p = resolve(r.getString())
              if (!Files.isDirectory(p)) sendStatus(id, FxNoSuchFile, "not a directory")
              else { Files.delete(p); sendStatus(id, FxOk, "") }
            case FxpRename =>
              val from = resolve(r.getString()); val to = resolve(r.getString())
              Files.move(from, to)
              sendStatus(id, FxOk, "")
            case FxpRealpath =>
              val raw = r.getString()
              val p = resolve(raw)
              val canon = "/" + root.relativize(p).toString
              val w = new WireOut().putU32(id).putU32(1L).putString(canon).putString(canon)
              writeAttrs(w, if (Files.exists(p)) attrsOf(p) else Attrs(0, 0, 0, isDir = false))
              send(FxpName, w)
            case other =>
              sendStatus(id, FxOpUnsupported, s"unsupported sftp op $other")
          } catch {
            case SftpStatusException(code, msg) => sendStatus(id, code, msg)
            case e: java.nio.file.NoSuchFileException => sendStatus(id, FxNoSuchFile, String.valueOf(e.getMessage))
            case e: IOException if !e.isInstanceOf[EOFException] =>
              sendStatus(id, FxFailure, String.valueOf(e.getMessage))
          }
        }
      } catch {
        case _: EOFException => () // client hung up
      } finally {
        handles.valuesIterator.foreach(fc => try fc.close() catch { case _: Throwable => () })
      }
    }
  }
}
