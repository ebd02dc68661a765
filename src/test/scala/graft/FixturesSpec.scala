package graft

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.{Bin, Video}

/** Byte identity of the video-container fixtures, no Spark session. Each
  * digest is the SHA-256 of `u64 id ‖ u32 len ‖ payload` in id order over
  * ids 0 until 5000 (every sf0.1 doc_id; sf0.01 is a prefix), recorded
  * from the SQL hex-string synthesis these builders replaced. The oracles
  * never read a payload byte, so this digest is the only check that the
  * decoders still see the exact same files.
  */
class FixturesSpec extends AnyFunSuite {

  private def digest(build: Long => Array[Byte],
      tweak: (Long, Array[Byte]) => Array[Byte] = (_, p) => p): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val head = ByteBuffer.allocate(12)
    (0L until 5000L).foreach { id =>
      val p = tweak(id, build(id))
      head.clear(); head.putLong(id).putInt(p.length)
      md.update(head.array()); md.update(p)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private val recorded = Seq[(String, Long => Array[Byte], String)](
    ("mp4", Video.mp4,
      "c75f4d52a734e195f1a3b5fe8fbbe07856639657b6c2ed6f7582430712745344"),
    ("mp4Samples", Video.mp4Samples,
      "148bf72ac3d937e43e2d625f956351dfd9bf7960944074a82f5b956c0b7fdda6"),
    ("mp4Fragments", Video.mp4Fragments,
      "227dbabd73578fac29694f19d4b00831556510e2a0846e2c5a2383ad65081c03"),
    ("mp4Remux", Video.mp4Remux,
      "bd3f6a264eee022fbf81236f5f8f5a75e39413ea576336d5d5d1d248dd755379"),
    ("mp4Dash", Video.mp4Dash,
      "cb34f561e1de3c110bec469ce686e27833fbf9c816230d9b14ead020f27c2f8d"),
    ("mpegTs", Video.mpegTs,
      "9dc42778881a200f7aca97cba59f41f63b77761378aaac4d4f056d4095c294f5"))

  for ((name, build, sha) <- recorded)
    test(s"Video.$name reproduces the recorded SQL-synthesis digest") {
      assert(digest(build) === sha)
    }

  test("the digest sees a single changed payload byte") {
    val flipped = digest(Video.mp4Dash, (id, p) => {
      if (id == 2500L) p(p.length / 2) = (p(p.length / 2) ^ 1).toByte; p })
    assert(flipped !== recorded.find(_._1 == "mp4Dash").get._3)
  }

  test("Bin.box sizes itself and writes big-endian fields") {
    assert(Bin.box("free", Bin.u8(1), Bin.u16(0x0203), Bin.u32(0x04050607L),
      Bin.u64(0x08090A0B0C0D0E0FL)).toSeq ===
      Seq[Byte](0, 0, 0, 23, 'f', 'r', 'e', 'e', 1, 2, 3, 4, 5, 6, 7,
        8, 9, 10, 11, 12, 13, 14, 15))
    assert(Bin.box("moov", Bin.box("mvhd")).take(4).toSeq === Seq[Byte](0, 0, 0, 16))
  }
}
