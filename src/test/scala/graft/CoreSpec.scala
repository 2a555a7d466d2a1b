package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Pure-core tests. The three PointChain cases are the reference's own unit
  * tests transcribed verbatim (/root/reference/wyrmcast/src/tile.rs:249-311)
  * — the seed of bit-for-bit parity. */
class PointChainSpec extends AnyFunSuite {

  private def makeChain(): PointChain =
    TileCfg(256, TileId(0, 0, 0), BBox(0.0, 0.0, 100.0, 100.0),
      Affine()).pointChain()

  test("inside: all-inside points pass through unchanged") {
    val pc = makeChain()
    val points = Seq(Pt(25, 25), Pt(75, 25), Pt(75, 75), Pt(25, 75))
    points.foreach(pc.pushBack)
    points.foreach(p => assert(pc.popFront().contains(p)))
  }

  test("outside: excursion outside left edge clipped to x=0") {
    val pc = makeChain()
    Seq(Pt(50, 50), Pt(-50, 50), Pt(-50, 25), Pt(50, 25))
      .foreach(pc.pushBack)
    Seq(Pt(50, 50), Pt(0, 50), Pt(0, 25), Pt(50, 25))
      .foreach(p => assert(pc.popFront().contains(p)))
    assert(pc.popFront().isEmpty)
  }

  test("corner: diagonal excursion inserts edge points and the corner") {
    val pc = makeChain()
    Seq(Pt(50, 50), Pt(-60, 50), Pt(50, -60), Pt(50, 50))
      .foreach(pc.pushBack)
    Seq(Pt(50, 50), Pt(0, 50), Pt(0, 0), Pt(50, 0), Pt(50, 50))
      .foreach(p => assert(pc.popFront().contains(p)))
    assert(pc.popFront().isEmpty)
  }

  test("rustRound: half away from zero") {
    assert(Geom.rustRound(0.5) == 1)
    assert(Geom.rustRound(-0.5) == -1)
    assert(Geom.rustRound(2.5) == 3)
    assert(Geom.rustRound(-2.5) == -3)
    assert(Geom.rustRound(1.4) == 1)
    assert(Geom.rustRound(-1.4) == -1)
  }
}

class TagPatternSpec extends AnyFunSuite {
  private def p(s: String) = TagPattern.parse(s)

  test("parse rules (layer.rs:191-235)") {
    val a = p("highway=motorway|motorway_link")
    assert(a.mustMatch && !a.include && a.equal)
    assert(a.tag == "highway" &&
      a.values == Vector("motorway", "motorway_link"))
    val b = p("?name")
    assert(!b.mustMatch && b.include && !b.sint && !b.equal &&
      b.values == Vector("_"))
    val c = p("$osm_id")
    assert(!c.mustMatch && c.include && c.sint)
    val d = p(".tag_x=v")
    assert(d.mustMatch && d.include && !d.sint && d.equal)
    val e = p("water!=basin|canal")
    assert(e.mustMatch && !e.equal && e.values == Vector("basin", "canal"))
    val f = p("building")
    assert(f.mustMatch && !f.equal && f.values == Vector("_"))
  }

  test("display round-trip (layer.rs:122-148)") {
    for (s <- Seq("highway=motorway|motorway_link", "?name", "$osm_id",
        "water!=basin|canal", "building", ".leisure=park",
        "tag!=value|_"))
      assert(p(s).toString == s)
  }

  test("matching semantics (layer.rs:174-189)") {
    val eq = p("water=lake|pond")
    assert(eq.matchesValue(Some("lake")))
    assert(!eq.matchesValue(Some("sea")))
    assert(!eq.matchesValue(None))
    val eqNull = p("water=lake|_")
    assert(eqNull.matchesValue(None))
    val ne = p("water!=lake|_")
    assert(!ne.matchesValue(None))
    assert(!ne.matchesValue(Some("lake")))
    assert(ne.matchesValue(Some("sea")))
    val exists = p("building")
    assert(exists.matchesValue(Some("yes")))
    assert(!exists.matchesValue(None))
  }

  test("layer checkTags ANDs must-match patterns (layer.rs:329-339)") {
    val l = LayerDef("county", "polygon", "4-14",
      Seq("$osm_id", "?name", "type=boundary", "boundary=administrative",
        "admin_level=6"))
    assert(l.checkTags(Map("type" -> "boundary",
      "boundary" -> "administrative", "admin_level" -> "6")))
    assert(!l.checkTags(Map("type" -> "boundary",
      "boundary" -> "administrative", "admin_level" -> "8")))
    assert(!l.checkTags(Map.empty))
    assert(l.includeTags == Vector(("osm_id", true), ("name", false)))
  }

  test("zoom range parse (layer.rs:239-261)") {
    assert(ZoomRange.parse("5") == ZoomRange(5, 5))
    assert(ZoomRange.parse("8-12") == ZoomRange(8, 12))
    assert(ZoomRange.parse("10+") == ZoomRange(10, 30))
    assertThrows[IllegalArgumentException](ZoomRange.parse("31"))
  }

  test("class-name mangling (layer.rs:364-389)") {
    val seg = LayerDef("segment_10", "linestring", "8+", Seq("?name"))
    assert(seg.className(None) == "wyrm-segment")
    assert(seg.className(Some("Main St")) == "segment-MainSt")
    val cp = LayerDef("city_poi", "point", "10+", Seq("?name"))
    assert(cp.className(None) == "wyrm-city_poi")
    assert(cp.className(Some("A B")) == "city_poi-AB")
  }
}

class GridSpec extends AnyFunSuite {
  test("mercator known values + round trip") {
    val o = Mercator.project(0, 0)
    assert(math.abs(o.x) < 1e-9 && math.abs(o.y) < 1e-9)
    val e = Mercator.project(180, 0)
    assert(math.abs(e.x - Mercator.HalfWorld) < 1e-6)
    val p = Mercator.project(-93.3, 45.0)
    val (lon, lat) = Mercator.unproject(p)
    assert(math.abs(lon - -93.3) < 1e-9 && math.abs(lat - 45.0) < 1e-9)
  }

  test("tile bbox: z0 is the world; z1 quadrants") {
    val w = TileGrid.tileBBox(0, 0, 0)
    assert(w.xmin == -Mercator.HalfWorld && w.xmax == Mercator.HalfWorld)
    val nw = TileGrid.tileBBox(1, 0, 0)
    assert(nw.xmax == 0.0 && nw.ymin == 0.0) // row 0 = north
  }

  test("transform maps tile corners to [0,extent] y-down") {
    val t = TileGrid.tileTransform(3, 2, 5, 256)
    val b = TileGrid.tileBBox(3, 2, 5)
    val p0 = t(Pt(b.xmin, b.ymax)) // NW corner → (0,0)
    assert(math.abs(p0.x) < 1e-9 && math.abs(p0.y) < 1e-9)
    val p1 = t(Pt(b.xmax, b.ymin)) // SE → (256,256)
    assert(math.abs(p1.x - 256) < 1e-9 && math.abs(p1.y - 256) < 1e-9)
  }

  test("packed tile ids round-trip") {
    for ((z, x, y) <- Seq((0, 0, 0), (14, 3946, 5895), (29, 1 << 28, 7)))
      assert(TileId.unpack(TileId.pack(z, x, y)) == TileId(z, x, y))
  }

  test("z30: config parses (reference max) but materializing tiles errors") {
    // the reference ACCEPTS zoom 30 in layer configs; our packing caps
    // materialization at z29 — covering z30 must fail loudly, not wrap
    assert(ZoomRange.parse("30") == ZoomRange(30, 30))
    val e = intercept[IllegalArgumentException](
      TileGrid.cover(30, BBox(0.0, 0.0, 1.0, 1.0), 256, 8))
    assert(e.getMessage.contains("z30"))
    assert(TileGrid.cover(29, BBox(0.0, 0.0, 1.0, 1.0), 256, 8).nonEmpty)
    // found by this test: a huge bbox at a deep zoom used to overflow the
    // cover array size (negative allocation) — now an explicit error
    val big = intercept[IllegalArgumentException](
      TileGrid.cover(29, BBox(-1e6, -1e6, 1e6, 1e6), 256, 8))
    assert(big.getMessage.contains("tiles"))
  }

  test("cover equals brute-force bbox-overlap scan (J4 equivalence)") {
    val rnd = new java.util.Random(42)
    for (_ <- 0 until 300) {
      val z = rnd.nextInt(9)
      val extent = 256; val margin = Seq(0, 8, 32)(rnd.nextInt(3))
      val cx = (rnd.nextDouble() * 2 - 1) * Mercator.HalfWorld
      val cy = (rnd.nextDouble() * 2 - 1) * Mercator.HalfWorld
      val wx = rnd.nextDouble() * Mercator.HalfWorld / (1 << z)
      val wy = rnd.nextDouble() * Mercator.HalfWorld / (1 << z)
      val fb = BBox(cx - wx, cy - wy, cx + wx, cy + wy)
      val got = TileGrid.cover(z, fb, extent, margin).toSet
      val n = 1 << z
      val want = (for {
        x <- 0 until n; y <- 0 until n
        if TileGrid.tileBBoxWithMargin(z, x, y, extent, margin)
          .intersects(fb)
      } yield TileId.pack(z, x, y)).toSet
      assert(got == want, s"z=$z margin=$margin fb=$fb")
    }
  }

  test("exact-boundary touch produces both adjacent tiles") {
    // feature bbox right edge exactly on tile boundary x=0 at z1, margin 0
    val fb = BBox(-100.0, 10.0, 0.0, 20.0)
    val got = TileGrid.cover(1, fb, 256, 0).toSet
    assert(got.contains(TileId.pack(1, 0, 0)) &&
      got.contains(TileId.pack(1, 1, 0)))
  }
}

class SvgSpec extends AnyFunSuite {
  test("path builder emits relative integer commands (README example)") {
    val b = new SvgPathBuilder
    b.moveTo(-8, -8); b.lineTo(264, -8); b.lineTo(264, 264)
    b.lineTo(-8, 264); b.lineTo(-8, -8); b.close()
    assert(b.result() == "m-8 -8h272v272h-272v-272z")
  }

  test("l command for diagonal; z resets pen to subpath start") {
    val b = new SvgPathBuilder
    b.moveTo(10, 10); b.lineTo(11, 12); b.close()
    b.moveTo(10, 20) // relative from (10,10) after z
    assert(b.result() == "m10 10l1 2zm0 10")
  }
}

class MvtSpec extends AnyFunSuite {
  test("zigzag + varint basics") {
    assert(ProtoWriter.zigzag32(0) == 0L)
    assert(ProtoWriter.zigzag32(-1) == 1L)
    assert(ProtoWriter.zigzag32(1) == 2L)
    val w = new ProtoWriter; w.writeVarint(300)
    assert(w.toBytes.toSeq == Seq(0xAC.toByte, 0x02.toByte))
  }

  test("geometry commands per MVT 2.1 spec example") {
    // spec example: point (25,17) → [9, 50, 34]
    val enc = new MvtGeomEncoder(GeomTp.Point,
      BBox(0, 0, 4096, 4096), Affine())
    enc.addPoint(25, 17)
    assert(enc.encode().toSeq == Seq(9L, 50L, 34L))
  }

  test("linestring splits on excluded segments keep deltas consistent") {
    val enc = new MvtGeomEncoder(GeomTp.Linestring,
      BBox(0, 0, 100, 100), Affine())
    enc.addPoint(2, 2); enc.addPoint(10, 10)
    enc.completeGeom()
    enc.addPoint(20, 20); enc.addPoint(30, 20)
    val cmds = enc.encode().toSeq
    // MoveTo(1)=9, params(2,2); LineTo(1)=10, params(8,8);
    // MoveTo(1)=9, params(10,10); LineTo(1)=10, params(10,0)
    assert(cmds == Seq(9L, 4L, 4L, 10L, 16L, 16L, 9L, 20L, 20L, 10L,
      20L, 0L))
  }

  test("polygon ring drops duplicated closing point and closes") {
    val enc = new MvtGeomEncoder(GeomTp.Polygon,
      BBox(0, 0, 100, 100), Affine())
    Seq((10.0, 10.0), (20.0, 10.0), (20.0, 20.0), (10.0, 10.0))
      .foreach { case (x, y) => enc.addPoint(x, y) }
    enc.completeGeom()
    val cmds = enc.encode().toSeq
    assert(cmds.head == 9L && cmds.last == 7L) // MoveTo … ClosePath
    assert(cmds.length == 1 + 2 + 1 + 4 + 1) // move+2, line(2)+4, close
  }
}

/** Bench record helpers (VERDICT r4 wrong #4: a swallowed table-op failure
  * must surface as a `<name>_err` exception-class field, not read as a
  * silently fast negative number). */
class BenchRecordSpec extends AnyFunSuite {
  test("timeOrErr: forced failure yields the exception class name") {
    assert(Bench.timeOrErr { throw new IllegalStateException("boom") } ===
      Left("java.lang.IllegalStateException"))
  }
  test("timeOrErr: clean op yields elapsed seconds, no error") {
    val r = Bench.timeOrErr { val _ = 1 + 1 }
    assert(r.isRight && r.toOption.get >= 0.0)
  }

  private def committed(name: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(s"data/$name"))
  private def parse(json: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)

  // levels 1, 2, 4: the 1→4 pair is present, the 2→8 pair is not, while the
  // calibration (levels 2 and 8) has only 2→8
  private val newRecord = ScalingBench.record(
    Map(1 -> Seq(9.0, 8.0, 10.0), 2 -> Seq(5.0, 4.0), 4 -> Seq(2.5, 3.0)),
    1000L, Map(2 -> Seq(3.0), 8 -> Seq(3.0, 4.0)), "m", "abc")

  test("effOf: committed ladders read their own top-level pairs") {
    val s = committed("scaling.json")
    val mx = committed("scaling_mx.json")
    assert(Bench.effOf(s, "1_to_4") === 1.017)
    assert(Bench.effOf(s, "2_to_8") === 0.804)
    assert(Bench.effOf(mx, "1_to_4") === 0.833)
    assert(Bench.effOf(mx, "2_to_8") === 0.740)
    assert(Bench.effOf(s, "4_to_16") === -1.0)
    assert(Bench.effOf("null", "1_to_4") === -1.0)
  }

  test("effOf: a new record's pairs, never the calibration's") {
    assert(Bench.effOf(newRecord, "1_to_4") === 0.8)
    // 2→8 exists only inside pure_cpu_calibration
    assert(parse(newRecord).at("/pure_cpu_calibration/efficiency_2_to_8")
      .asDouble === 1.0)
    assert(Bench.effOf(newRecord, "2_to_8") === -1.0)
  }

  test("record: every rep, min and median per level, pairs only when both") {
    val j = parse(newRecord)
    val lv = j.get("levels")
    assert(lv.size === 3)
    def level(i: Int) = lv.get(i)
    assert((0 until 3).map(level(_).get("level").asInt) === Seq(1, 2, 4))
    assert(level(0).get("reps").size === 3)
    assert(level(0).get("reps").get(2).asDouble === 10.0)
    assert(level(0).get("sec_min").asDouble === 8.0)
    assert(level(0).get("sec_med").asDouble === 9.0)
    assert(level(1).get("sec_med").asDouble === 4.5)
    assert(level(2).get("tiles").asLong === 1000L)
    assert(level(2).get("sec_med").asDouble === 2.75)
    assert(level(2).get("per_sec").asDouble === 400.0)
    assert(j.has("efficiency_1_to_4"))
    assert(!j.has("efficiency_2_to_8"))
    assert(!j.has("efficiency_4_to_16"))
    val c = j.get("pure_cpu_calibration")
    assert(c.get("levels").get(1).get("units").asLong === 256L)
    assert(!c.has("efficiency_1_to_4"))
    assert(j.get("method").asText === "m" && j.get("commit").asText === "abc")
  }
}
