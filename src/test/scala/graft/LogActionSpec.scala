package graft

import java.nio.charset.StandardCharsets

import scala.collection.immutable.ArraySeq

import org.scalacheck.{Arbitrary, Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.CommitLog.ColStat
import graft.io.LogAction
import graft.io.LogAction._

/** The commit log's one codec: every action round-trips whatever its
  * names contain, and the lines it writes for ordinary names are exactly
  * the lines earlier logs already hold. */
class LogActionSpec extends AnyFunSuite {

  // names: mostly plain text, salted with everything a hand-written
  // grammar gets wrong — quotes, backslashes, newlines, control
  // characters, the compact-stats separators, non-ASCII (a surrogate pair
  // included)
  private val hostilePiece: Gen[String] = Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    4 -> Gen.oneOf("\"", "\\", "\n", "\r", "\t", "\u0000", "\u0001", "\u001f",
      "\u007f", "/", ",", ":", "=", "{", "}", "[", " ", "é", "ß", "日本",
      " ", "😀", "\\\"", "\\n"))
  private val name: Gen[String] = Gen.listOf(hostilePiece).map(_.mkString)
  // the compact mstats/sstats encodings only ever carry [A-Za-z0-9_]+
  // column names (the footer harvest filters everything else)
  private val statCol: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.const('_'))).map(_.mkString)
  private val long: Gen[Long] = Arbitrary.arbitrary[Long]
  private val bytes: Gen[ArraySeq[Byte]] =
    Gen.listOf(Arbitrary.arbitrary[Byte]).map(bs => ArraySeq.from(bs))
  private val colStat: Gen[ColStat] = for {
    kind <- Gen.oneOf('i', 'd', 't', 'c')
    lo <- long
    hi <- long
    scale <- if (kind == 'c') Gen.choose(0, 38) else Gen.const(0)
  } yield ColStat(kind, lo, hi, scale)

  private val add: Gen[Add] = for {
    f <- name
    zone <- Gen.option(for (lo <- long; hi <- long; c <- Gen.option(name)) yield Zone(lo, hi, c))
    rows <- Gen.option(long)
    size <- Gen.option(long)
    ms <- Gen.mapOf(Gen.zip(statCol, colStat))
    ss <- Gen.mapOf(Gen.zip(statCol, Gen.zip(bytes, bytes)))
    bloomed <- Arbitrary.arbitrary[Boolean]
  } yield Add(f, zone, rows, size, ms, ss, bloomed)

  private val action: Gen[LogAction] = Gen.oneOf(
    Gen.zip(name, Gen.option(long)).map { case (o, v) => Op(o, v) },
    add,
    name.map(Remove),
    name.map(Txn),
    name.map(Schema),
    Gen.zip(name, Arbitrary.arbitrary[Int]).map { case (c, b) => ClusterBy(c, b) },
    name.map(Tombstone),
    name.map(Untombstone),
    name.map(BloomOn),
    Gen.const(DvOn),
    Gen.oneOf(Gen.choose(0.0, 1.0), Arbitrary.arbitrary[Double].suchThat(!_.isNaN))
      .map(DvMaxRatio),
    Gen.zip(name, name, long).map { case (f, sc, n) => Dv(f, sc, n) },
    Gen.zip(name, name).map { case (n, e) => Constraint(n, e) },
    name.map(Unconstraint),
    Gen.zip(name, name).map { case (f, sc) => Dvu(f, sc) },
    name.map(CdfPost))

  test("decode(encode(a)) == a for every action kind, whatever its names hold") {
    PropCheck(Prop.forAll(action) { a =>
      val line = encode(a)
      // one action per line: a raw newline would split it
      !line.contains('\n') && decode(line) == a
    }, minTests = 3000)
  }

  test("a whole file round-trips line by line, in order") {
    PropCheck(Prop.forAll(Gen.listOf(action)) { as =>
      LogAction.decodeFile(LogAction.encodeFile(as), "prop") == as
    }, minTests = 300)
  }

  test("encode writes the exact lines earlier logs hold, for ordinary names") {
    val golden: Seq[(LogAction, String)] = Seq(
      Op("append") -> """{"op":"append"}""",
      Op("checkpoint", Some(12L)) -> """{"op":"checkpoint","version":12}""",
      Add("part-0.parquet") -> """{"add":"part-0.parquet"}""",
      Add("part-1.parquet", rows = Some(3L), bytes = Some(812L),
        mstats = Map("ts" -> ColStat('t', 1700000000000000L, 1700000001000000L),
          "a" -> ColStat('i', -3L, 9L), "p" -> ColStat('c', 100L, 999L, 2),
          "d" -> ColStat('d', 19000L, 19400L)),
        sstats = Map("s" -> ((ArraySeq[Byte]('a', 'b', 'c'), ArraySeq[Byte]('a', 'b', 'd')))),
        bloomed = true) ->
        ("""{"add":"part-1.parquet","rows":3,"bytes":812,""" +
          """"mstats":"a=-3:9,d=d19000:19400,p=c2.100:999,ts=t1700000000000000:1700000001000000",""" +
          """"sstats":"s=YWJj:YWJk","bloomref":1}"""),
      Add("part-2.parquet", zone = Some(Zone(-5L, 12L, Some("k"))), rows = Some(7L),
        bytes = Some(900L)) ->
        """{"add":"part-2.parquet","lo":-5,"hi":12,"col":"k","rows":7,"bytes":900}""",
      Add("part-3.parquet", zone = Some(Zone(0L, 42L, Some("z(x,y)")))) ->
        """{"add":"part-3.parquet","lo":0,"hi":42,"col":"z(x,y)"}""",
      Add("part-4.parquet", zone = Some(Zone(1L, 2L)), rows = Some(1L)) ->
        """{"add":"part-4.parquet","lo":1,"hi":2,"rows":1}""",
      Remove("part-0.parquet") -> """{"remove":"part-0.parquet"}""",
      Txn("ingest#3") -> """{"txn":"ingest#3"}""",
      Schema("""{"type":"struct","fields":[]}""") ->
        """{"schema64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbXX0="}""",
      ClusterBy("k", 4) -> """{"clusterby":"k","buckets":4}""",
      Tombstone("c_old") -> """{"tombstone":"c_old"}""",
      Untombstone("c_old") -> """{"untombstone":"c_old"}""",
      BloomOn("key") -> """{"bloomon":"key"}""",
      DvOn -> """{"dvon":1}""",
      DvMaxRatio(0.5) -> """{"dvmaxratio":"0.5"}""",
      DvMaxRatio(1.0) -> """{"dvmaxratio":"1.0"}""",
      Dv("part-0.parquet", "part-0.parquet.dv-1", 2L) ->
        """{"dv":"part-0.parquet","dvfile":"part-0.parquet.dv-1","dvrows":2}""",
      Constraint("pos", "id > 0") -> """{"constraint":"pos","expr64":"aWQgPiAw"}""",
      Unconstraint("pos") -> """{"unconstraint":"pos"}""",
      Dvu("part-0.parquet", "part-0.parquet.dvu-1") ->
        """{"dvu":"part-0.parquet","dvufile":"part-0.parquet.dvu-1"}""",
      CdfPost("part-5.parquet") -> """{"cdfpost":"part-5.parquet"}""")
    golden.foreach { case (a, line) =>
      assert(encode(a) == line)
      assert(decode(line) == a)
    }
    assert(new String(LogAction.encodeFile(golden.map(_._1)), StandardCharsets.UTF_8) ==
      golden.map(_._2).mkString("", "\n", "\n"))
  }

  test("decode ignores unknown keys and tolerates whitespace") {
    assert(decode("""{"add":"f","future":{"x":[1,2]},"rows":4,"ratio":0.5}""") ==
      Add("f", rows = Some(4L)))
    assert(decode(""" { "op" : "append" , "version" : 3 } """) == Op("append", Some(3L)))
  }

  test("an undecodable line fails the read, naming the file and line") {
    val corrupt = "{\"op\":\"append\"}\n\n{\"clusterby\":\"a\"b\",\"buckets\":4}\n"
    val e = intercept[IllegalStateException] {
      LogAction.decodeFile(corrupt.getBytes(StandardCharsets.UTF_8), "t/_log/000000000001.json")
    }
    assert(e.getMessage.contains("t/_log/000000000001.json") && e.getMessage.contains("line 3"),
      e.getMessage)
    for (bad <- Seq("not json", "[1,2]", """{"add":"f"} {"add":"g"}""", """{"nothing":1}""",
        """{"dv":"f"}"""))
      intercept[IllegalArgumentException](decode(bad))
  }
}
