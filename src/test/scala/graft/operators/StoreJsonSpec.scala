package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The store's JSON codec ([[StoreJson]]): a version record, a stats
  * manifest entry and a bloom sidecar entry round-trip through the
  * file for arbitrary strings — quotes, backslashes, newlines, CR,
  * tabs and other control characters, non-BMP code points, `%20`-style
  * escapes, the empty string — and lines in the manifests' established
  * format read to the same entries. */
class StoreJsonSpec extends AnyFunSuite {
  import Snapshots.{Dv, Provenance, VersionRecord}

  private val fs =
    FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
  private val dir = new Path(
    java.nio.file.Files.createTempDirectory("graft-json").toString)

  private val specials = Seq("\"", "\\", "\n", "\r", "\t", "\b", "\f",
    "\u0000", "\u0001", "\u001f", "\u007f", "\u2028", "😀",
    "𝄞", "%20", "b=New%20York", "\\u0041", "", "é", "漢")

  /** One code point: a special, ASCII (controls included), or any
    * other non-surrogate code point up to U+10FFFF. */
  private val genPiece: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf(specials),
    2 -> Gen.choose(0, 0x7f).map(c => c.toChar.toString),
    2 -> Gen.choose(0x80, 0x10ffff - 0x800).map { c =>
      new String(Character.toChars(if (c >= 0xd800) c + 0x800 else c))
    })

  private val genStr: Gen[String] =
    Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, genPiece))
      .map(_.mkString)

  private val genStrs: Gen[Seq[String]] =
    Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, genStr))

  private val genRecord: Gen[VersionRecord] = for {
    name <- genStr
    op <- genStr
    touched <- genStrs
    zorder <- genStrs
    refs <- genStrs
    keys <- genStrs
    file <- genStr
    src <- Gen.option(Gen.choose(0L, Long.MaxValue))
    hasDml <- Gen.oneOf(true, false)
  } yield VersionRecord(
    Some(StructType(Seq(StructField(name, LongType),
      StructField("s", StructType(Seq(StructField(name, StringType))))))),
    if (hasDml) Some(Provenance(7L, op, touched)) else None,
    Seq(0L, Long.MaxValue), zorder,
    refs.zipWithIndex.map { case (r, i) => (i.toLong, r) },
    Seq(Dv(src, file, 3L, keys)))

  private val genStat: Gen[FileStats.FileStat] = for {
    rel <- genStr
    cs <- genStrs
    bounds <- Gen.listOfN(cs.size, Gen.option(Gen.zip(genStr, genStr)))
  } yield FileStats.FileStat(rel, 42L, cs.zip(bounds).toMap,
    cs.map(_ -> 5L).toMap)

  private val genBloom: Gen[BloomStats.FileBloom] = for {
    rel <- genStr
    bits <- Gen.listOf(Gen.choose(0, 1023))
  } yield BloomStats.FileBloom(rel, 9L, 1024, 4, bits.toSet)

  /** 300 seeded draws of `g`. */
  private def draws[A](g: Gen[A]): Seq[A] =
    (0L until 300L).map(i => g.pureApply(Gen.Parameters.default, Seed(i)))

  /** `a` written to a file as one line and read back. */
  private def throughFile[A](a: A)(to: A => org.json4s.JValue,
      from: org.json4s.JValue => A): A = {
    val p = new Path(dir, "doc.json")
    StoreJson.write(fs, p, Seq(to(a)))
    val back = StoreJson.read(fs, p)
    assert(back.size == 1)
    from(back.head)
  }

  test("record, stats and bloom entries round-trip any string") {
    draws(genRecord).foreach { r =>
      assert(throughFile(r)(_.toJson, VersionRecord.fromJson) == r)
    }
    draws(genStat).foreach { e =>
      assert(throughFile(e)(FileStats.toJson, FileStats.fromJson) == e)
    }
    draws(genBloom).foreach { e =>
      assert(throughFile(e)(BloomStats.toJson, BloomStats.fromJson) == e)
    }
    // every special on its own, as every kind of field
    specials.foreach { s =>
      val r = VersionRecord(dml = Some(Provenance(1L, s, Seq(s))),
        zorder = Seq(s), refs = Seq(1L -> s),
        dvs = Seq(Dv(None, s, 1L, Seq(s))))
      assert(throughFile(r)(_.toJson, VersionRecord.fromJson) == r)
      val e = FileStats.FileStat(s, 1L, Map(s -> Some((s, s))))
      assert(throughFile(e)(FileStats.toJson, FileStats.fromJson) == e)
    }
  }

  test("an empty record renders as an empty object") {
    assert(StoreJson.render(VersionRecord().toJson) == "{}")
    assert(VersionRecord.fromJson(StoreJson.parse("{}")) == VersionRecord())
  }

  test("golden _stats.json and _bloom lines parse to the same entries") {
    val stats = Seq(
      """{"file":"b=0/part-00000.c000.snappy.parquet","rows":100,""" +
        """"nn":{"k":100,"s":98},"cols":{"k":["0","99"],"s":["a","z"],""" +
        """"x":null}}""" ->
        FileStats.FileStat("b=0/part-00000.c000.snappy.parquet", 100L,
          Map("k" -> Some(("0", "99")), "s" -> Some(("a", "z")),
            "x" -> None), Map("k" -> 100L, "s" -> 98L)),
      // a manifest written before non-null counts existed
      """{"file":"p.parquet","rows":3,"cols":{"k":""" +
        """["-9223372036854775808","9223372036854775807"]}}""" ->
        FileStats.FileStat("p.parquet", 3L, Map("k" ->
          Some(("-9223372036854775808", "9223372036854775807")))))
    stats.foreach { case (line, want) =>
      assert(FileStats.fromJson(StoreJson.parse(line)) == want)
      assert(StoreJson.render(FileStats.toJson(want)) == line)
    }
    // the escapes the hand-written codec emitted
    val escaped = "{\"file\":\"b=New York/q\\\"1\\\\.parquet\",\"rows\":1," +
      "\"cols\":{\"s\":[\"a\\nb\\rc\\td\\u0001\\u001f\",\"😀\"]}}"
    assert(FileStats.fromJson(StoreJson.parse(escaped)) ==
      FileStats.FileStat("b=New York/q\"1\\.parquet", 1L,
        Map("s" -> Some(("a\nb\rc\td\u0001\u001f", "😀")))))
    val blooms = Seq(
      """{"file":"part-0.parquet","rows":10,"m":1024,"k":4,""" +
        """"bits":[3,17,1023]}""" ->
        BloomStats.FileBloom("part-0.parquet", 10L, 1024, 4,
          Set(3, 17, 1023)),
      """{"file":"e.parquet","rows":0,"m":64,"k":2,"bits":[]}""" ->
        BloomStats.FileBloom("e.parquet", 0L, 64, 2, Set.empty))
    blooms.foreach { case (line, want) =>
      assert(BloomStats.fromJson(StoreJson.parse(line)) == want)
      assert(StoreJson.render(BloomStats.toJson(want)) == line)
    }
  }
}
