package graft

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.{Audio, Bin, Bits, Image, Video}

/** Byte identity of the binary fixtures, no Spark session. Each digest is
  * the SHA-256 of `u64 id ‖ u32 len ‖ payload` in id order over ids 0
  * until 5000 (every sf0.1 doc_id; sf0.01 is a prefix), recorded from the
  * SQL hex-string synthesis these builders replaced (for `mediaHeader`,
  * the header part of the m04 payload). The oracles never read a payload
  * byte, so this digest is the only check that the decoders still see the
  * exact same files.
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

  private val recordedMedia = Seq[(String, Long => Array[Byte], String)](
    ("Image.ppm", Image.ppm,
      "e7e403ab05117684eef5ca4bb3ffb658e0f9178e7fef29b050d26be1be09af6c"),
    ("Image.dhash", Image.dhash,
      "c3a571666a94b65d6e9e50434c469505f976c83814ab2f4f7df3d046a007a7fa"),
    ("Image.png", Image.png,
      "513127e974be4aaa201abbc7fcd17b7a64aab105054327eff6efb6c1f6e1be7b"),
    ("Image.jpeg", Image.jpeg,
      "e429783ac3ed0c5bea334bcf1bcef8b3a84b2943ab0319ad6792e07e3ee83f15"),
    ("Image.jpegProgressive", Image.jpegProgressive,
      "5b678c41bf60271614212a81b9332c8b14538589b43b93a878b9a56559747d0c"),
    ("Image.jpegCorpus", Image.jpegCorpus,
      "eb127eb2f227a87e8ecb52059d3e306fb3ec8e019643a258f76395b1a744c517"),
    ("Image.bmp", Image.bmp,
      "8289245502a780d69c3e7f67a52fab234d6c8094c5dfc8dfc473065a18768ae4"),
    ("Image.gif", Image.gif,
      "37d34dae939caa2a8b59e6ad96c65ed9663aa4429d91dc2d2972b7cb0cfbf702"),
    ("Image.gifAnim", Image.gifAnim,
      "f00d08bbe310ea4d48da3d35154236a86e37f125f1cc42c84b59974c48b45af4"),
    ("Image.mediaHeader", Image.mediaHeader,
      "e67805c8c25c4cfda143e27447f1ca764f895d1125d35efc9ec5dff0e1e0519f"),
    ("Audio.wav", Audio.wav,
      "660be4bfba7c7c440ca0f1aa02c97bff6e73fcd96406cdb7bbbadc84f68f43e1"),
    ("Audio.wavDhash", Audio.wavDhash,
      "01112bd50d51fb88de1dff52ffcc76445360e2cfc423cce6f57f532f89ceecee"),
    ("Audio.mpeg", Audio.mpeg,
      "3d63c16928ddbf81fc0aaf2cce545d0d60198ed4ba665ce273d11de3718a5368"),
    ("Audio.mpegL1", Audio.mpegL1,
      "e7370b526fc8dd235d09f03f140010b3e6b3077751bc2be555aedbcd5ce02eb2"),
    ("Audio.flac", Audio.flac,
      "7a9fb01dba40bba99a71a454bb033943a0ad674bed5ab50b01477b784c764121"),
    ("Audio.audioCorpus", Audio.audioCorpus,
      "cfda9353193b462cbe01ca7e93eacb7f9794b982c891eb652b6ee3a9e0c96c63"))

  for ((name, build, sha) <- recorded)
    test(s"Video.$name reproduces the recorded SQL-synthesis digest") {
      assert(digest(build) === sha)
    }

  for ((name, build, sha) <- recordedMedia)
    test(s"$name reproduces the recorded SQL-synthesis digest") {
      assert(digest(build) === sha)
    }

  test("Audio.plantedWav reproduces the recorded hex literal's digest") {
    val sha = MessageDigest.getInstance("SHA-256").digest(Audio.plantedWav)
      .map(b => f"${b & 0xff}%02x").mkString
    assert(sha === "c5527b136897882bcd4ea163f38a3c1e3e0d5768be152ddb54a724f175f2d4f9")
  }

  test("the digest sees a single changed payload byte") {
    val flipped = digest(Video.mp4Dash, (id, p) => {
      if (id == 2500L) p(p.length / 2) = (p(p.length / 2) ^ 1).toByte; p })
    assert(flipped !== recorded.find(_._1 == "mp4Dash").get._3)
  }

  test("Bits writes MSB first, pads the last byte and stuffs 0xFF") {
    assert(new Bits().put(5, 3).put(1, 2).flush().toSeq === Seq[Byte](0xA8.toByte))
    assert(new Bits().put(5, 3).flush(padOnes = true).toSeq === Seq[Byte](0xBF.toByte))
    assert(new Bits().put(0xFF, 8).put(0x7F, 7).flush(padOnes = true, stuff = true).toSeq ===
      Seq[Byte](-1, 0, -1, 0))
  }

  test("Bin.box sizes itself and writes big-endian fields") {
    assert(Bin.box("free", Bin.u8(1), Bin.u16(0x0203), Bin.u32(0x04050607L),
      Bin.u64(0x08090A0B0C0D0E0FL)).toSeq ===
      Seq[Byte](0, 0, 0, 23, 'f', 'r', 'e', 'e', 1, 2, 3, 4, 5, 6, 7,
        8, 9, 10, 11, 12, 13, 14, 15))
    assert(Bin.box("moov", Bin.box("mvhd")).take(4).toSeq === Seq[Byte](0, 0, 0, 16))
  }
}
