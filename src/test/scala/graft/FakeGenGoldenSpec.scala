package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.fakegen.FakeGen

/** Golden outputs of the faker kernels, no Spark. The literals were
  * produced by the `String`-based kernels that preceded the byte kernels
  * (decode the cell, fake a `String`, encode it), so they pin that the
  * byte path fakes every cell exactly as before: multibyte, surrogate
  * pair, `\u0000`, brace and comma edge cases, and invalid UTF-8. */
class FakeGenGoldenSpec extends AnyFunSuite {

  val inputs: Seq[Array[Byte]] = Seq(
    "", "7", "\ud83d\ude00", "\ud83d\ude001", "\u00e9", "\u0000",
    "{}", "{,}", "{a,,b}", " {a} ", "{\u00e9, \u00fc}", "{\u0001x\u0002}",
    "+1 (555) 010-4477", "{foo@a.com, bar@b.com,qux@c.com}"
  ).map(_.getBytes(UTF_8)) :+ Array(0x41, 0xff, 0x31).map(_.toByte)

  /** (input index, seed, outputs by kind 0..8: first name, last name,
    * full name, company, email, address, uuid, phone, multi-email). */
  val golden: Seq[(Int, Long, Seq[String])] = Seq(
    (0, 42L, Seq("Gabriel", "Zhang", "Gabriel Zhang", "Redwood Partners", "diana.haines@example.org", "4007 Birch Boulevard 31088 Riverton 98034", "65b3745d-aff5-43f0-81e4-f199f064b4ec", "", "")),
    (1, 42L, Seq("Victor", "Ellis", "Victor Ellis", "Cobalt Partners", "arthur.baker49@example.org", "5598 Linden Path 70770 Quarrytown 57166", "cdb23428-5d8f-42cf-926e-d993da5fb0a6", "7", "7")),
    (2, 42L, Seq("Alice", "Okafor", "Alice Okafor", "Zenith LLC", "priya.abbott@example.net", "8559 Cedar Lane 39834 Millbrook 13249", "4cd56b4b-2c90-451f-b049-2ec63687e592", "\ud83d\ude00", "priya.abbott@example.net")),
    (3, 42L, Seq("Yara", "Jansen", "Yara Jansen", "Evergreen Partners", "camila.ito@example.net", "9488 Juniper Terrace 84487 Hillcrest 53242", "d6823746-5f6d-4b56-b64f-83a03178aaae", "\ud83d\ude002", "camila.ito@example.net")),
    (4, 42L, Seq("Carlos", "Fletcher", "Carlos Fletcher", "Oakline Group", "sara.abbott@example.com", "5934 Sycamore Alley 20038 Hillcrest 41040", "1291b91c-4a67-445f-bfb1-2f03c411fc9b", "\u00e9", "\u00e9")),
    (5, 42L, Seq("Omar", "Dubois", "Omar Dubois", "Sycamore Systems", "gabriel.reyes38@example.com", "6776 Sycamore Alley 45859 Riverton 18351", "b677eedd-9df1-47f7-b2be-6a1ac90fedca", "\u0000", "\u0000")),
    (6, 42L, Seq("Uma", "Gruber", "Uma Gruber", "Atlas Partners", "tariq.santos@example.net", "3902 Chestnut Court 25297 Pinehurst 63133", "2412c2cb-48ed-4eaa-9138-dc8a818776b6", "{}", "{}")),
    (7, 42L, Seq("Jasmine", "Hansen", "Jasmine Hansen", "Beacon Co", "marco.haines@example.net", "1973 Aspen Circle 69422 Cedarville 25109", "30648193-f496-4d79-ae2e-af71e6aa4e32", "{,}", "{diana.haines@example.org,diana.haines@example.org}")),
    (8, 42L, Seq("Yusuf", "Gruber", "Yusuf Gruber", "Willow Labs", "alice.suzuki@example.com", "4881 Aspen Circle 97610 Westgate 50533", "649b28f4-263e-4b5e-b22d-12dacc8613fa", "{a,,b}", "{tariq.santos19@example.net,diana.haines@example.org,ines.dalton@example.net}")),
    (9, 42L, Seq("Ines", "Moreau", "Ines Moreau", "Beacon Systems", "nadia.quintero@example.net", "613 Oak Avenue 15542 Westgate 97888", "0893a4a5-002e-4d08-8bc4-4ee413db6f7a", " {a} ", "nadia.quintero@example.net")),
    (10, 42L, Seq("Diana", "Gruber", "Diana Gruber", "Crescent Co", "camila.castillo34@example.org", "3166 Oak Avenue 55099 Thornbury 66824", "0825813d-11bb-4dbf-b8bf-396b979d1d11", "{\u00e9, \u00fc}", "{sara.abbott@example.com,clara.ziegler@example.com}")),
    (11, 42L, Seq("Sami", "Bennett", "Sami Bennett", "Oakline Holdings", "sara.kovacs@example.com", "131 Chestnut Court 43626 Cedarville 82934", "82ab6aae-4297-4b59-9295-6c2db4eb3f24", "{\u0001x\u0002}", "{bruno.bennett@example.net}")),
    (12, 42L, Seq("Kenji", "Tanaka", "Kenji Tanaka", "Lakeside Labs", "jonas.fischer26@example.org", "6433 Juniper Terrace 13435 Stonebridge 69796", "baaabcbf-d5f2-476c-8145-2f8a49b54766", "+7 (890) 965-1650", "jonas.fischer26@example.org")),
    (13, 42L, Seq("Jonas", "Almeida", "Jonas Almeida", "Willow Partners", "kenji.reyes@example.org", "372 Juniper Terrace 90612 Springfield 51309", "edcf4777-6569-4a09-8282-000af01fe383", "{foo@a.com, bar@b.com,qux@c.com}", "{henry.farrell@example.net,mei.rahman@example.net,stella.ziegler16@example.com}")),
    (14, 42L, Seq("Diana", "Xu", "Diana Xu", "Acme Partners", "mei.nakamura@example.com", "7047 Elm Drive 54611 Quarrytown 77123", "e300f7d9-f5db-414c-961c-4cf15766f1c2", "A\ufffd6", "mei.nakamura@example.com")),
    (0, 7L, Seq("Maria", "Marsh", "Maria Marsh", "Harbor Holdings", "stella.yamamoto34@example.com", "5949 Cedar Lane 38801 Dunmore 49096", "ed713436-1abc-445f-9229-b12e8b3e76f8", "", "")),
    (1, 7L, Seq("Stella", "Zhang", "Stella Zhang", "Horizon Partners", "hana.dalton@example.com", "7757 Cedar Lane 38449 Ashford 47287", "27e6eeb5-0804-41b8-8c43-96d495ea03ae", "7", "7")),
    (2, 7L, Seq("Paula", "Mendes", "Paula Mendes", "Cobalt Group", "amelia.dias22@example.com", "4475 Willow Way 55658 Springfield 45861", "8b520c1c-35f2-427d-b9ae-a0840a8b7b6b", "\ud83d\ude00", "amelia.dias22@example.com")),
    (3, 7L, Seq("Tariq", "Sorensen", "Tariq Sorensen", "Sycamore Co", "emma.santos17@example.org", "7912 Oak Avenue 69268 Rosewood 15127", "6f71ee22-1a7b-4ea8-a5d5-eac79bc92053", "\ud83d\ude004", "emma.santos17@example.org")),
    (4, 7L, Seq("Henry", "Larsen", "Henry Larsen", "Falcon Inc", "leo.ibarra42@example.com", "5686 Elm Drive 68980 Springfield 63098", "3d421185-b955-47c0-be90-b4bfac48c944", "\u00e9", "\u00e9")),
    (5, 7L, Seq("Mei", "Novak", "Mei Novak", "Oakline Holdings", "bruno.kimura@example.net", "2944 Aspen Circle 31516 Rosewood 44296", "4eb99d26-73fd-4019-8954-7b2f31c1303b", "\u0000", "\u0000")),
    (6, 7L, Seq("Mei", "Petrov", "Mei Petrov", "Atlas Ventures", "simon.mendes22@example.net", "5532 Hawthorn Row 23336 Fairview 66107", "f32325d6-3fe3-4e45-b399-4451016e9a34", "{}", "{}")),
    (7, 7L, Seq("Lucas", "Mendes", "Lucas Mendes", "Keystone Co", "laila.hoffman@example.org", "3649 Elm Drive 36639 Ashford 62474", "f24539f3-4fb9-4f08-aa28-003f58b20c8d", "{,}", "{stella.yamamoto34@example.com,stella.yamamoto34@example.com}")),
    (8, 7L, Seq("Maria", "Silva", "Maria Silva", "Silverline Labs", "carlos.keller@example.org", "3827 Pine Road 95910 Georgetown 24155", "30f3d8be-ef0c-48ab-b581-3655a48812d0", "{a,,b}", "{ines.sorensen42@example.net,stella.yamamoto34@example.com,greta.dias@example.org}")),
    (9, 7L, Seq("Lucas", "Farrell", "Lucas Farrell", "Willow Partners", "camila.novak@example.com", "3552 Poplar Crescent 18375 Georgetown 99410", "ab0a2368-2632-4320-886d-8f26b1f3a493", " {a} ", "camila.novak@example.com")),
    (10, 7L, Seq("Paula", "Park", "Paula Park", "Keystone Industries", "ines.abbott@example.org", "8445 Oak Avenue 14576 Rosewood 85175", "e2a504ae-8155-452f-9f7c-14d884aa0157", "{\u00e9, \u00fc}", "{leo.ibarra42@example.com,camila.lindqvist@example.com}")),
    (11, 7L, Seq("Theo", "Fletcher", "Theo Fletcher", "Willow Labs", "sara.almeida@example.org", "5938 Poplar Crescent 42321 Dunmore 64397", "080a484e-da1b-45b5-bc98-3443dc6ad899", "{\u0001x\u0002}", "{simon.dias30@example.org}")),
    (12, 7L, Seq("Fiona", "Castillo", "Fiona Castillo", "Cobalt Co", "priya.tanaka38@example.net", "6681 Linden Path 42710 Cedarville 91561", "7eb9de44-8db0-4ffa-9995-20df30c58873", "+4 (206) 491-7613", "priya.tanaka38@example.net")),
    (13, 7L, Seq("Alice", "Ibarra", "Alice Ibarra", "Westbrook Co", "stella.castillo39@example.org", "9975 Birch Boulevard 67231 Stonebridge 71295", "8df760af-a20b-4b28-ba89-b014117f4dc7", "{foo@a.com, bar@b.com,qux@c.com}", "{julia.clarke8@example.com,elias.richter2@example.org,lucas.suzuki5@example.net}")),
    (14, 7L, Seq("Arthur", "Suzuki", "Arthur Suzuki", "Cedar Systems", "zoe.zhang@example.net", "154 Linden Path 23089 Fairview 66622", "04f84126-e4a2-4893-acb3-d4a506203095", "A\ufffd5", "zoe.zhang@example.net")))

  /** Digest of all nine kinds over `corpus(0 until 100000)`, alternating
    * seeds 42 and 7. */
  val goldenDigest = 0x3604c2e9b8eba2fcL

  private def rng(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private val alphabet = Array("a", "Z", "7", "0", " ", ",", "{", "}", "@",
    ".", "\u00e9", "\u00fc", "\ud83d\ude00", "\u0000", "\t", "-", "+", "\u0131", "\u4e2d")

  /** Seeded input `i`: raw (mostly invalid) bytes one time in eight,
    * otherwise up to 31 tokens of `alphabet`, braced one time in eight. */
  private def corpus(i: Int): Array[Byte] = {
    var s = rng(i.toLong)
    val len = (s >>> 59).toInt
    val mode = ((s >>> 56) & 7).toInt
    if (mode == 0) Array.tabulate(len) { _ => s = rng(s); (s >>> 56).toByte }
    else {
      val sb = new StringBuilder
      if (mode == 1) sb.append('{')
      for (_ <- 0 until len) {
        s = rng(s); sb.append(alphabet(((s >>> 33) % alphabet.length).toInt))
      }
      if (mode == 1) sb.append('}')
      sb.toString.getBytes(UTF_8)
    }
  }

  private def digest(): Long = {
    var h = 0xcbf29ce484222325L
    for (i <- 0 until 100000; k <- 0 to 8) {
      val seed = if (i % 2 == 0) 42L else 7L
      val o = FakeGen.dispatch(k, UTF8String.fromBytes(corpus(i)), seed).getBytes
      h = FakeGen.hash64(o, 0, o.length) ^ (h * 0x100000001b3L)
    }
    h
  }

  private def checkGolden(): Unit = golden.foreach { case (i, seed, want) =>
    want.zipWithIndex.foreach { case (expected, kind) =>
      val got = FakeGen.dispatch(kind, UTF8String.fromBytes(inputs(i)), seed).toString
      assert(got == expected, s"kind $kind, input $i, seed $seed")
    }
  }

  test("golden: 9 kinds x 2 seeds over edge-case inputs") {
    assert(golden.size == inputs.size * 2)
    checkGolden()
  }

  test("golden: digest over 100k seeded inputs, valid and invalid UTF-8") {
    assert(digest() == goldenDigest)
  }

  test("dispatch never writes into the input's bytes") {
    for (in <- inputs :+ "+44 20 7123 4567".getBytes(UTF_8); kind <- 0 to 8) {
      val bytes = in.clone()
      FakeGen.dispatch(kind, UTF8String.fromBytes(bytes), 42L)
      assert(java.util.Arrays.equals(bytes, in), s"kind $kind mutated its input")
    }
  }

  test("fakes do not depend on the JVM's default locale (tr-TR)") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      // "Ines" and "Ibarra" lowercase to dotless-i forms under tr-TR
      assert("Ines".toLowerCase == "\u0131nes")
      checkGolden()
      assert(FakeGen.email("{\u00e9, \u00fc}", 7L) == "ines.abbott@example.org")
      assert(FakeGen.multiEmail("{\u00e9, \u00fc}", 7L) ==
        "{leo.ibarra42@example.com,camila.lindqvist@example.com}")
    } finally java.util.Locale.setDefault(saved)
  }
}
