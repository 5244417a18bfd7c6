package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.H3

/** Pins the H3 implementation to values from the reference's own golden
  * corpus (tests/cases/standalone/common/function/geo.result) plus
  * structural invariants the published algorithm guarantees.
  */
class H3Spec extends AnyFunSuite {

  private val cell8 = 613196570438926335L // 88283082e7fffff

  test("latlng_to_cell matches reference goldens at res 0/1/8") {
    assert(H3.latLngToCell(37.76938, -122.3889, 0) === 577199624117288959L)
    assert(H3.latLngToCell(37.76938, -122.3889, 1) === 581672437419081727L)
    assert(H3.latLngToCell(37.76938, -122.3889, 8) === cell8)
  }

  test("string round-trip and center") {
    assert(H3.cellToString(cell8) === "88283082e7fffff")
    assert(H3.stringToCell("88283082e7fffff") === cell8)
    val (lat, lng) = H3.cellToLatLng(cell8)
    assert(math.abs(lat - 37.77246152245501) < 1e-12)
    assert(math.abs(lng - -122.39010997087324) < 1e-12)
  }

  test("hierarchy: parent/children/positions") {
    assert(H3.resolution(cell8) === 8)
    assert(H3.baseCellNumber(cell8) === 20)
    assert(!H3.isPentagon(cell8))
    assert(H3.parent(cell8, 6) === 604189371209351167L)
    val kids = H3.children(cell8, 10)
    assert(kids.length === 49)
    assert(kids.head === 622203769691602943L)
    assert(kids.last === 622203769693372415L)
    assert(H3.childrenSize(cell8, 10) === 49L)
    assert(H3.cellToChildPos(cell8, 6) === 45L)
    assert(H3.childPosToCell(25, cell8, 11) === 626707369319059455L)
  }

  test("grid disk matches the reference spiral ordering") {
    assert(H3.gridDisk(cell8, 0).toSeq === Seq(cell8))
    assert(H3.gridDisk(cell8, 3).toSeq === Seq(613196570438926335L,
      613196570436829183L, 613196569755254783L, 613196570378108927L,
      613196570373914623L, 613196570434732031L, 613196570432634879L,
      613196570445217791L, 613196570250182655L, 613196569753157631L,
      613196569744769023L, 613196569746866175L, 613196570369720319L,
      613196570365526015L, 613196570376011775L, 613196570336165887L,
      613196570344554495L, 613196570443120639L, 613196570441023487L,
      613196570220822527L, 613196570258571263L, 613196570248085503L,
      613196570254376959L, 613196569757351935L, 613196569748963327L,
      613196569751060479L, 613196569686048767L, 613196569688145919L,
      613196570371817471L, 613196570367623167L, 613196570394886143L,
      613196570338263039L, 613196570331971583L, 613196570340360191L,
      613196570405371903L, 613196570403274751L, 613196570216628223L))
  }

  test("grid distance, path, and metric distances") {
    val c1 = H3.stringToCell("86283082fffffff")
    val c2 = H3.stringToCell("86283470fffffff")
    assert(H3.gridDistance(c1, c2) === 9)
    assert(H3.gridPathCells(c1, c2).toSeq === Seq(604189371209351167L,
      604189371075133439L, 604189375235883007L, 604189375101665279L,
      604189638034194431L, 604189638571065343L, 604189638436847615L,
      604189642597597183L, 604189642463379455L, 604189641255419903L))
    assert(math.rint(H3.distanceSphereKm(c1, c2) * 1e5) / 1e5 === 55.05017)
    assert(math.abs(H3.distanceDegree(c1, c2) - 0.54939243697098) < 1e-12)
  }

  test("cells_contains child semantics") {
    val set = Seq("86283470fffffff", "862834777ffffff", "862834757ffffff",
      "86283471fffffff", "862834707ffffff").map(H3.stringToCell)
    assert(H3.cellsContains(set, H3.stringToCell("8b283470d112fff")))
    assert(!H3.cellsContains(set, 604189641792290815L))
    assert(H3.cellsContains(set, 626707639343067135L))
  }

  test("pentagons: 12 at res 0, children counts, positions enumerate in order") {
    val pent0 = H3.stringToCell("8009fffffffffff") // base cell 4
    assert(H3.isPentagon(pent0))
    assert(H3.childrenSize(pent0, 1) === 6L)
    assert(H3.childrenSize(pent0, 3) === 286L)
    val kids = H3.children(pent0, 2)
    assert(kids.length === 41)
    // positions must equal enumeration order, and invert via childPosToCell
    kids.zipWithIndex.foreach { case (k, i) =>
      assert(H3.cellToChildPos(k, 0) === i.toLong)
      assert(H3.childPosToCell(i.toLong, pent0, 2) === k)
    }
    // pentagon disk: origin plus exactly 5 neighbors
    assert(H3.gridDisk(pent0, 1).length === 6)
  }

  test("resolution bounds raise") {
    intercept[IllegalArgumentException](H3.latLngToCell(0, 0, 16))
    intercept[IllegalArgumentException](H3.latLngToCell(0, 0, -1))
    intercept[IllegalArgumentException](H3.stringToCell("nonsense"))
  }

  test("exhaustive res-1/2 center round-trips over all 122 base cells") {
    H3.selfCheck()
  }

  test("neighbor steps are geometrically adjacent at res 2 (all base cells)") {
    // every res-2 cell's 1-disk members sit within ~1.6x the local spacing
    for (bc <- Seq(0, 4, 14, 20, 63, 117, 121)) { // hexagons + pentagons incl polar
      val res0 = H3.stringToCell(H3.cellToString(
        (1L << 59) | (bc.toLong << 45) | ((1L << 45) - 1)))
      for (cell <- H3.children(res0, 2)) {
        val (clat, clng) = H3.cellToLatLng(cell)
        val disk = H3.gridDisk(cell, 1)
        assert(disk.length === (if (H3.isPentagon(cell)) 6 else 7))
        for (n <- disk.drop(1)) {
          val (nlat, nlng) = H3.cellToLatLng(n)
          val sl = math.sin(math.toRadians(nlat - clat) / 2)
          val sg = math.sin(math.toRadians(nlng - clng) / 2)
          val h = sl * sl +
            math.cos(math.toRadians(clat)) * math.cos(math.toRadians(nlat)) * sg * sg
          val dist = 2 * math.asin(math.sqrt(math.min(1.0, h)))
          assert(dist < 0.072, s"cell ${H3.cellToString(cell)} neighbor ${H3.cellToString(n)} too far: $dist")
          assert(dist > 0.005, s"cell ${H3.cellToString(cell)} neighbor ${H3.cellToString(n)} too close: $dist")
        }
      }
    }
  }
}
