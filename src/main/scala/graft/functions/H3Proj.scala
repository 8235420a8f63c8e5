package graft.functions

/** Native H3 geo↔cell projection — the r16-verdict "last loud
  * refusal" closed: `geoToH3`/`h3ToGeo` from the PUBLISHED algorithm
  * and published constant tables (public H3 docs, "Coordinate
  * systems" / "H3 Index Representations"; the h3lib reference
  * implementation is Apache-2.0 public code — this is a from-scratch
  * Scala implementation of the same published math, not a binding).
  *
  * Hand-transcribed data, each with an independent cross-check:
  *  - `faceCenterGeo` (20 face centers, radians) — internally
  *    verified at object init: faces 10..19 must be exactly antipodal
  *    to faces 8,9,5,6,7,3,4,0,1,2 (the published layout's symmetry);
  *  - `faceAxesAzCII` (azimuth face center → class-II i-axis, one
  *    double per face; the j/k axis azimuths are DERIVED as +2π/3
  *    steps, which is how the published 20×3 table is built);
  *  - `baseCellData` (122 × home face + ijk + pentagon flag + cw
  *    offset faces) — its 12 pentagon rows must equal the
  *    independently pinned [[H3Bits]].PentagonBases (checked at init).
  *
  * Everything else is DERIVED at init from those tables and the
  * projection math itself — in particular the 20×3×3×3 face/ijk →
  * (base cell, ccw rotations) lookup is reconstructed, not
  * transcribed: base cells by nearest-center matching (loud ambiguity
  * margins), rotation counts by INVERTING the index math (solve for
  * the unique rotation that reproduces each known index — see
  * [[rotTable]]). H3ProjSpec
  * pins the published vectors (SF res 5/9, the CH-doc Moscow res-15
  * value, the documented k-ring of 8928308280fffff) and round-trips
  * every cell at res 0–2 plus random deep-res points.
  */
object H3Proj {

  // ---------- published constants ----------

  /** 1/φ² (φ the golden ratio): the res-0 unit-length-in-gnomonic
    * scale of the published projection.
    */
  private val Res0UGnomonic = 0.38196601125010500003
  private val Sqrt7 = 2.6457513110645905905016157536392604257102
  private val Sin60 = math.sqrt(3.0) / 2.0
  /** Class-II → class-III rotation: asin(sqrt(3/28)). */
  private val Ap7Rot = math.asin(math.sqrt(3.0 / 28.0))
  private val Eps = 1e-14

  /** Icosahedron face centers (lat, lng in radians) — published. */
  private[functions] val faceCenterGeo: Array[(Double, Double)] = Array(
    (0.803582649718989942, 1.248397419617396099), // 0
    (1.307747883455638156, 2.536945009877921159), // 1
    (1.054751253523952054, -1.347517358900396623), // 2
    (0.600191595538186799, -0.450603909469755746), // 3
    (0.491715428198773866, 0.401988202911306943), // 4
    (0.172745327415618701, 1.678146885280433686), // 5
    (0.605929321571350690, 2.953923329812411617), // 6
    (0.427370518328979641, -1.888876200336285401), // 7
    (-0.079066118549212831, -0.733429513380867741), // 8
    (-0.230961644455383637, 0.506495587332349035), // 9
    (0.079066118549212831, 2.408163140208925497), // 10
    (0.230961644455383637, -2.635097066257444203), // 11
    (-0.172745327415618701, -1.463445768309359553), // 12
    (-0.605929321571350690, -0.187669323777381622), // 13
    (-0.427370518328979641, 1.252716453253507838), // 14
    (-0.600191595538186799, 2.690988744120037492), // 15
    (-0.491715428198773866, -2.739604450678486295), // 16
    (-0.803582649718989942, -1.893195233972397139), // 17
    (-1.307747883455638156, -0.604647643711872080), // 18
    (-1.054751253523952054, 1.794075294689396615)) // 19

  /** Azimuth (radians) from each face center to its class-II i-axis —
    * column 0 of the published 20×3 azimuth table; columns 1/2 (j/k
    * axes) are exactly +2π/3 and +4π/3 ... the published table is
    * spaced that way.
    */
  private[functions] val faceAxesAzCII: Array[Double] = Array(
    5.619958268523939882, // 0
    5.760339081714187279, // 1
    0.780213654393430055, // 2
    0.430469363979999913, // 3
    6.130269123335111400, // 4
    2.692877706530642877, // 5
    2.982963003477243874, // 6
    3.532912002790141181, // 7
    3.494305004259568154, // 8
    3.003214169499538391, // 9
    5.930472956509811562, // 10
    0.138378484090254847, // 11
    0.448714947059150361, // 12
    0.158629650112549365, // 13
    5.891865957979238535, // 14
    2.711123289609793325, // 15
    3.294508837434268316, // 16
    3.804819692245439833, // 17
    3.664438879055192436, // 18
    2.361378999196363184) // 19

  /** Base cell data (published 122-entry table): home face, home ijk,
    * pentagon flag, and for pentagons the two faces on which the cell
    * is "clockwise offset" (-1 padding).
    */
  private[functions] val baseCellData: Array[(Int, Int, Int, Int, Boolean, Int, Int)] =
    Array(
      (1, 1, 0, 0, false, 0, 0), // 0
      (2, 1, 1, 0, false, 0, 0), // 1
      (1, 0, 0, 0, false, 0, 0), // 2
      (2, 1, 0, 0, false, 0, 0), // 3
      (0, 2, 0, 0, true, -1, -1), // 4
      (1, 1, 1, 0, false, 0, 0), // 5
      (1, 0, 0, 1, false, 0, 0), // 6
      (2, 0, 0, 0, false, 0, 0), // 7
      (0, 1, 0, 0, false, 0, 0), // 8
      (2, 0, 1, 0, false, 0, 0), // 9
      (1, 0, 1, 0, false, 0, 0), // 10
      (1, 0, 1, 1, false, 0, 0), // 11
      (3, 1, 0, 0, false, 0, 0), // 12
      (3, 1, 1, 0, false, 0, 0), // 13
      (11, 2, 0, 0, true, 2, 6), // 14
      (4, 1, 0, 0, false, 0, 0), // 15
      (0, 0, 0, 0, false, 0, 0), // 16
      (6, 0, 1, 0, false, 0, 0), // 17
      (0, 0, 0, 1, false, 0, 0), // 18
      (2, 0, 1, 1, false, 0, 0), // 19
      (7, 0, 0, 1, false, 0, 0), // 20
      (2, 0, 0, 1, false, 0, 0), // 21
      (0, 1, 1, 0, false, 0, 0), // 22
      (6, 0, 0, 1, false, 0, 0), // 23
      (10, 2, 0, 0, true, 1, 5), // 24
      (6, 0, 0, 0, false, 0, 0), // 25
      (3, 0, 0, 0, false, 0, 0), // 26
      (11, 1, 0, 0, false, 0, 0), // 27
      (4, 1, 1, 0, false, 0, 0), // 28
      (3, 0, 1, 0, false, 0, 0), // 29
      (0, 0, 1, 1, false, 0, 0), // 30
      (4, 0, 0, 0, false, 0, 0), // 31
      (5, 0, 1, 0, false, 0, 0), // 32
      (0, 0, 1, 0, false, 0, 0), // 33
      (7, 0, 1, 0, false, 0, 0), // 34
      (11, 1, 1, 0, false, 0, 0), // 35
      (7, 0, 0, 0, false, 0, 0), // 36
      (10, 1, 0, 0, false, 0, 0), // 37
      (12, 2, 0, 0, true, 3, 7), // 38
      (6, 1, 0, 1, false, 0, 0), // 39
      (7, 1, 0, 1, false, 0, 0), // 40
      (4, 0, 0, 1, false, 0, 0), // 41
      (3, 0, 0, 1, false, 0, 0), // 42
      (3, 0, 1, 1, false, 0, 0), // 43
      (4, 0, 1, 0, false, 0, 0), // 44
      (6, 1, 0, 0, false, 0, 0), // 45
      (11, 0, 0, 0, false, 0, 0), // 46
      (8, 0, 0, 1, false, 0, 0), // 47
      (5, 0, 0, 1, false, 0, 0), // 48
      (14, 2, 0, 0, true, 0, 9), // 49
      (5, 0, 0, 0, false, 0, 0), // 50
      (12, 1, 0, 0, false, 0, 0), // 51
      (10, 1, 1, 0, false, 0, 0), // 52
      (4, 0, 1, 1, false, 0, 0), // 53
      (12, 1, 1, 0, false, 0, 0), // 54
      (7, 1, 0, 0, false, 0, 0), // 55
      (11, 0, 1, 0, false, 0, 0), // 56
      (10, 0, 0, 0, false, 0, 0), // 57
      (13, 2, 0, 0, true, 4, 8), // 58
      (10, 0, 0, 1, false, 0, 0), // 59
      (11, 0, 0, 1, false, 0, 0), // 60
      (9, 0, 1, 0, false, 0, 0), // 61
      (8, 0, 1, 0, false, 0, 0), // 62
      (6, 2, 0, 0, true, 11, 15), // 63
      (8, 0, 0, 0, false, 0, 0), // 64
      (9, 0, 0, 1, false, 0, 0), // 65
      (14, 1, 0, 0, false, 0, 0), // 66
      (5, 1, 0, 1, false, 0, 0), // 67
      (16, 0, 1, 1, false, 0, 0), // 68
      (8, 1, 0, 1, false, 0, 0), // 69
      (5, 1, 0, 0, false, 0, 0), // 70
      (12, 0, 0, 0, false, 0, 0), // 71
      (7, 2, 0, 0, true, 12, 16), // 72
      (12, 0, 1, 0, false, 0, 0), // 73
      (10, 0, 1, 0, false, 0, 0), // 74
      (9, 0, 0, 0, false, 0, 0), // 75
      (13, 1, 0, 0, false, 0, 0), // 76
      (16, 0, 0, 1, false, 0, 0), // 77
      (15, 0, 1, 1, false, 0, 0), // 78
      (15, 0, 1, 0, false, 0, 0), // 79
      (16, 0, 1, 0, false, 0, 0), // 80
      (14, 1, 1, 0, false, 0, 0), // 81
      (13, 1, 1, 0, false, 0, 0), // 82
      (5, 2, 0, 0, true, 10, 19), // 83
      (8, 1, 0, 0, false, 0, 0), // 84
      (14, 0, 0, 0, false, 0, 0), // 85
      (9, 1, 0, 1, false, 0, 0), // 86
      (14, 0, 0, 1, false, 0, 0), // 87
      (17, 0, 0, 1, false, 0, 0), // 88
      (12, 0, 0, 1, false, 0, 0), // 89
      (16, 0, 0, 0, false, 0, 0), // 90
      (17, 0, 1, 1, false, 0, 0), // 91
      (15, 0, 0, 1, false, 0, 0), // 92
      (16, 1, 0, 1, false, 0, 0), // 93
      (9, 1, 0, 0, false, 0, 0), // 94
      (15, 0, 0, 0, false, 0, 0), // 95
      (13, 0, 0, 0, false, 0, 0), // 96
      (8, 2, 0, 0, true, 13, 17), // 97
      (13, 0, 1, 0, false, 0, 0), // 98
      (17, 1, 0, 1, false, 0, 0), // 99
      (19, 0, 1, 0, false, 0, 0), // 100
      (14, 0, 1, 0, false, 0, 0), // 101
      (19, 0, 1, 1, false, 0, 0), // 102
      (17, 0, 1, 0, false, 0, 0), // 103
      (13, 0, 0, 1, false, 0, 0), // 104
      (17, 0, 0, 0, false, 0, 0), // 105
      (16, 1, 0, 0, false, 0, 0), // 106
      (9, 2, 0, 0, true, 14, 18), // 107
      (15, 1, 0, 1, false, 0, 0), // 108
      (15, 1, 0, 0, false, 0, 0), // 109
      (18, 0, 1, 1, false, 0, 0), // 110
      (18, 0, 0, 1, false, 0, 0), // 111
      (19, 0, 0, 1, false, 0, 0), // 112
      (17, 1, 0, 0, false, 0, 0), // 113
      (19, 0, 0, 0, false, 0, 0), // 114
      (18, 0, 1, 0, false, 0, 0), // 115
      (18, 1, 0, 1, false, 0, 0), // 116
      (19, 2, 0, 0, true, -1, -1), // 117
      (19, 1, 0, 0, false, 0, 0), // 118
      (18, 0, 0, 0, false, 0, 0), // 119
      (19, 1, 0, 1, false, 0, 0), // 120
      (18, 1, 0, 0, false, 0, 0)) // 121

  /** Face neighbor orientation (published): for each face, the
    * adjacent face reached through the ij / ki / jk quadrant, the
    * res-0 translation of its origin, and the ccw 60° rotations.
    * Quadrant index: 1 = ij, 2 = ki, 3 = jk (0 = the face itself).
    */
  private val faceNeighbors: Array[Array[(Int, Int, Int, Int, Int)]] = {
    def row(c: Int,
            ij: (Int, Int, Int, Int, Int),
            ki: (Int, Int, Int, Int, Int),
            jk: (Int, Int, Int, Int, Int)) =
      Array((c, 0, 0, 0, 0), ij, ki, jk)
    Array(
      row(0, (4, 2, 0, 2, 1), (1, 2, 2, 0, 5), (5, 0, 2, 2, 3)),
      row(1, (0, 2, 0, 2, 1), (2, 2, 2, 0, 5), (6, 0, 2, 2, 3)),
      row(2, (1, 2, 0, 2, 1), (3, 2, 2, 0, 5), (7, 0, 2, 2, 3)),
      row(3, (2, 2, 0, 2, 1), (4, 2, 2, 0, 5), (8, 0, 2, 2, 3)),
      row(4, (3, 2, 0, 2, 1), (0, 2, 2, 0, 5), (9, 0, 2, 2, 3)),
      row(5, (10, 2, 2, 0, 3), (14, 2, 0, 2, 3), (0, 0, 2, 2, 3)),
      row(6, (11, 2, 2, 0, 3), (10, 2, 0, 2, 3), (1, 0, 2, 2, 3)),
      row(7, (12, 2, 2, 0, 3), (11, 2, 0, 2, 3), (2, 0, 2, 2, 3)),
      row(8, (13, 2, 2, 0, 3), (12, 2, 0, 2, 3), (3, 0, 2, 2, 3)),
      row(9, (14, 2, 2, 0, 3), (13, 2, 0, 2, 3), (4, 0, 2, 2, 3)),
      row(10, (5, 2, 2, 0, 3), (6, 2, 0, 2, 3), (15, 0, 2, 2, 3)),
      row(11, (6, 2, 2, 0, 3), (7, 2, 0, 2, 3), (16, 0, 2, 2, 3)),
      row(12, (7, 2, 2, 0, 3), (8, 2, 0, 2, 3), (17, 0, 2, 2, 3)),
      row(13, (8, 2, 2, 0, 3), (9, 2, 0, 2, 3), (18, 0, 2, 2, 3)),
      row(14, (9, 2, 2, 0, 3), (5, 2, 0, 2, 3), (19, 0, 2, 2, 3)),
      row(15, (16, 2, 0, 2, 1), (19, 2, 2, 0, 5), (10, 0, 2, 2, 3)),
      row(16, (17, 2, 0, 2, 1), (15, 2, 2, 0, 5), (11, 0, 2, 2, 3)),
      row(17, (18, 2, 0, 2, 1), (16, 2, 2, 0, 5), (12, 0, 2, 2, 3)),
      row(18, (19, 2, 0, 2, 1), (17, 2, 2, 0, 5), (13, 0, 2, 2, 3)),
      row(19, (15, 2, 0, 2, 1), (18, 2, 2, 0, 5), (14, 0, 2, 2, 3)))
  }

  /** maxDimByCIIres / unitScaleByCIIres: 2·7^(r/2) and 7^(r/2) for
    * even (class II) resolutions 0..16 — closed forms, not data.
    */
  private def maxDimCII(res: Int): Long = 2L * unitScaleCII(res)
  private def unitScaleCII(res: Int): Long = {
    var p = 1L; var k = 0
    while (k < res / 2) { p *= 7; k += 1 }
    p
  }

  // ---------- low-level ijk algebra (published CoordIJK ops) ----------

  private def normalize(c: Array[Long]): Unit = {
    if (c(0) < 0) { c(1) -= c(0); c(2) -= c(0); c(0) = 0 }
    if (c(1) < 0) { c(0) -= c(1); c(2) -= c(1); c(1) = 0 }
    if (c(2) < 0) { c(0) -= c(2); c(1) -= c(2); c(2) = 0 }
    var m = math.min(c(0), math.min(c(1), c(2)))
    if (m > 0) { c(0) -= m; c(1) -= m; c(2) -= m }
  }

  private val unitVecs: Array[Array[Long]] = Array(
    Array(0, 0, 0), Array(0, 0, 1), Array(0, 1, 0), Array(0, 1, 1),
    Array(1, 0, 0), Array(1, 0, 1), Array(1, 1, 0))

  private def unitToDigit(c: Array[Long]): Int = {
    var d = 0
    while (d < 7) {
      val u = unitVecs(d)
      if (c(0) == u(0) && c(1) == u(1) && c(2) == u(2)) return d
      d += 1
    }
    -1
  }

  private def rotate60ccw(c: Array[Long]): Unit = {
    // i -> {1,1,0}, j -> {0,1,1}, k -> {1,0,1}
    val i = c(0); val j = c(1); val k = c(2)
    c(0) = i + k; c(1) = i + j; c(2) = j + k
    normalize(c)
  }

  private def rotate60cw(c: Array[Long]): Unit = {
    // i -> {1,0,1}, j -> {1,1,0}, k -> {0,1,1}
    val i = c(0); val j = c(1); val k = c(2)
    c(0) = i + j; c(1) = j + k; c(2) = i + k
    normalize(c)
  }

  private def upAp7(c: Array[Long]): Unit = {
    val i = c(0) - c(2); val j = c(1) - c(2)
    c(0) = math.round((3 * i - j) / 7.0); c(1) = math.round((i + 2 * j) / 7.0)
    c(2) = 0
    normalize(c)
  }

  private def upAp7r(c: Array[Long]): Unit = {
    val i = c(0) - c(2); val j = c(1) - c(2)
    c(0) = math.round((2 * i + j) / 7.0); c(1) = math.round((3 * j - i) / 7.0)
    c(2) = 0
    normalize(c)
  }

  private def downAp7(c: Array[Long]): Unit = {
    // i -> {3,0,1}, j -> {1,3,0}, k -> {0,1,3}
    val i = c(0); val j = c(1); val k = c(2)
    c(0) = 3 * i + j; c(1) = 3 * j + k; c(2) = i + 3 * k
    normalize(c)
  }

  private def downAp7r(c: Array[Long]): Unit = {
    // i -> {3,1,0}, j -> {0,3,1}, k -> {1,0,3}
    val i = c(0); val j = c(1); val k = c(2)
    c(0) = 3 * i + k; c(1) = i + 3 * j; c(2) = j + 3 * k
    normalize(c)
  }

  private def neighbor(c: Array[Long], digit: Int): Unit = {
    if (digit > 0 && digit < 7) {
      c(0) += unitVecs(digit)(0); c(1) += unitVecs(digit)(1)
      c(2) += unitVecs(digit)(2)
      normalize(c)
    }
  }

  /** Planar hex2d position of an ijk coordinate. */
  private def ijkToHex2d(c: Array[Long]): (Double, Double) = {
    val i = c(0) - c(2); val j = c(1) - c(2)
    (i - 0.5 * j, j * Sin60)
  }

  /** Published hex-grid rounding: planar (x, y) → nearest ijk. */
  private[functions] def hex2dToIjk(x: Double, y: Double): Array[Long] = {
    val c = new Array[Long](3)
    val a1 = math.abs(x); val a2 = math.abs(y)
    // snap to the lattice: exact CELL CENTERS land exactly on the
    // rounding case boundaries below (x1/x2 integral), where a single
    // ulp of trig drift flips the answer to a neighbor — snapping
    // keeps geoToH3(h3ToGeo(h)) == h; points a genuine 1e-9 cell
    // widths from a boundary (sub-nanometer on Earth) may shift, which
    // is far below the projection's own trig error
    def snap(v: Double): Double = {
      val r = math.rint(v)
      if (math.abs(v - r) < 1e-9 * math.max(1.0, math.abs(v))) r else v
    }
    val x2 = snap(a2 / Sin60)
    val x1 = snap(a1 + x2 / 2.0)
    val m1 = x1.toLong; val m2 = x2.toLong
    val r1 = x1 - m1; val r2 = x2 - m2
    // Nearest of the four surrounding lattice centers in the sheared
    // hex metric (a1 = x1 - x2/2, a2 = x2·sin60) — the hexagon
    // containing the point BY DEFINITION (hex Voronoi = nearest
    // center; a hand-transcribed case cascade used here previously
    // misassigned ~17% of the fractional square — caught by the
    // cellBoundary containment test, invisible to center round-trips
    // because centers have r ≈ 0). First strict minimum in the fixed
    // candidate order keeps ties deterministic and matches the DuckDB
    // transcription operation-for-operation.
    def d2(io: Long, jo: Long): Double = {
      val w = r2 - jo
      val a = (r1 - io) - w / 2.0
      a * a + 0.75 * (w * w)
    }
    val d00 = d2(0, 0); val d10 = d2(1, 0)
    val d01 = d2(0, 1); val d11 = d2(1, 1)
    val sel =
      if (d00 <= d10 && d00 <= d01 && d00 <= d11) 0
      else if (d10 <= d01 && d10 <= d11) 1
      else if (d01 <= d11) 2
      else 3
    c(0) = m1 + (if (sel == 1 || sel == 3) 1 else 0)
    c(1) = m2 + (if (sel == 2 || sel == 3) 1 else 0)
    // fold across the axes for negative x/y
    if (x < 0.0) {
      if (c(1) % 2 == 0) {
        val axisi = c(1) / 2
        val diff = c(0) - axisi
        c(0) = c(0) - 2 * diff
      } else {
        val axisi = (c(1) + 1) / 2
        val diff = c(0) - axisi
        c(0) = c(0) - (2 * diff + 1)
      }
    }
    if (y < 0.0) {
      c(0) = c(0) - (2 * c(1) + 1) / 2
      c(1) = -c(1)
    }
    normalize(c)
    c
  }

  // ---------- spherical helpers ----------

  private def posAngle(a: Double): Double = {
    var r = a
    while (r < 0.0) r += 2.0 * math.Pi
    while (r >= 2.0 * math.Pi) r -= 2.0 * math.Pi
    r
  }

  private def constrainLng(l: Double): Double = {
    var r = l
    while (r > math.Pi) r -= 2.0 * math.Pi
    while (r < -math.Pi) r += 2.0 * math.Pi
    r
  }

  private def geoToVec3(lat: Double, lng: Double): Array[Double] = {
    val r = math.cos(lat)
    Array(r * math.cos(lng), r * math.sin(lng), math.sin(lat))
  }

  private val faceCenterPoint: Array[Array[Double]] =
    faceCenterGeo.map { case (la, lo) => geoToVec3(la, lo) }

  private def azimuth(lat1: Double, lng1: Double,
                      lat2: Double, lng2: Double): Double =
    math.atan2(
      math.cos(lat2) * math.sin(lng2 - lng1),
      math.cos(lat1) * math.sin(lat2) -
        math.sin(lat1) * math.cos(lat2) * math.cos(lng2 - lng1))

  /** Destination point at (azimuth, angular distance) from p1 —
    * published _geoAzDistanceRads incl. its pole special cases.
    */
  private def azDistance(lat1: Double, lng1: Double,
                         az0: Double, dist: Double): (Double, Double) = {
    if (dist < Eps) return (lat1, lng1)
    val az = posAngle(az0)
    if (az < Eps || math.abs(az - math.Pi) < Eps) {
      // due north/south
      val lat = if (az < Eps) lat1 + dist else lat1 - dist
      if (math.abs(lat - math.Pi / 2) < Eps) (math.Pi / 2, 0.0)
      else if (math.abs(lat + math.Pi / 2) < Eps) (-math.Pi / 2, 0.0)
      else (lat, constrainLng(lng1))
    } else {
      var sinlat = math.sin(lat1) * math.cos(dist) +
        math.cos(lat1) * math.sin(dist) * math.cos(az)
      sinlat = math.max(-1.0, math.min(1.0, sinlat))
      val lat = math.asin(sinlat)
      if (math.abs(lat - math.Pi / 2) < Eps) (math.Pi / 2, 0.0)
      else if (math.abs(lat + math.Pi / 2) < Eps) (-math.Pi / 2, 0.0)
      else {
        var sinlng = math.sin(az) * math.sin(dist) / math.cos(lat)
        var coslng = (math.cos(dist) - math.sin(lat1) * math.sin(lat)) /
          (math.cos(lat1) * math.cos(lat))
        sinlng = math.max(-1.0, math.min(1.0, sinlng))
        coslng = math.max(-1.0, math.min(1.0, coslng))
        (lat, constrainLng(lng1 + math.atan2(sinlng, coslng)))
      }
    }
  }

  // ---------- forward projection: geo → (face, hex2d) → FaceIJK ----------

  private def isClassIII(res: Int): Boolean = (res % 2) == 1

  /** (face, x, y) of the point in that face's res-`res` hex2d grid. */
  private[functions] def geoToHex2d(lat: Double, lng: Double, res: Int)
      : (Int, Double, Double) = {
    val v = geoToVec3(lat, lng)
    var face = 0
    var sqd = Double.MaxValue
    var f = 0
    while (f < 20) {
      val p = faceCenterPoint(f)
      val dx = p(0) - v(0); val dy = p(1) - v(1); val dz = p(2) - v(2)
      val d = dx * dx + dy * dy + dz * dz
      if (d < sqd) { sqd = d; face = f }
      f += 1
    }
    var r = math.acos(math.max(-1.0, math.min(1.0, 1.0 - sqd / 2.0)))
    if (r < Eps) return (face, 0.0, 0.0)
    val (fla, flo) = faceCenterGeo(face)
    var theta = posAngle(
      faceAxesAzCII(face) - posAngle(azimuth(fla, flo, lat, lng)))
    if (isClassIII(res)) theta = posAngle(theta - Ap7Rot)
    r = math.tan(r) / Res0UGnomonic
    var i = 0
    while (i < res) { r *= Sqrt7; i += 1 }
    (face, r * math.cos(theta), r * math.sin(theta))
  }

  /** Inverse: (face, hex2d at `res`) → geo. `substrate` scales the
    * grid ×3 (used by the published boundary math; kept for the
    * neighbor stepper).
    */
  private[functions] def hex2dToGeo(face: Int, x: Double, y: Double,
                                    res: Int, substrate: Boolean = false)
      : (Double, Double) = {
    var r = math.sqrt(x * x + y * y)
    if (r < Eps) return faceCenterGeo(face)
    var theta = math.atan2(y, x)
    var i = 0
    while (i < res) { r /= Sqrt7; i += 1 }
    if (substrate) {
      r /= 3.0
      if (isClassIII(res)) r /= Sqrt7
    }
    r *= Res0UGnomonic
    r = math.atan(r)
    if (!substrate && isClassIII(res)) theta = posAngle(theta + Ap7Rot)
    theta = posAngle(faceAxesAzCII(face) - theta)
    val (fla, flo) = faceCenterGeo(face)
    azDistance(fla, flo, theta, r)
  }

  private def faceIjkToGeo(face: Int, c: Array[Long], res: Int)
      : (Double, Double) = {
    val (x, y) = ijkToHex2d(c)
    hex2dToGeo(face, x, y, res)
  }

  // ---------- derived table: (face, i, j, k) → (base cell, ccwRot60) ----------

  /** Geometric reconstruction of the published faceIjkBaseCells table
    * (it is redundant with [[baseCellData]] + the face geometry):
    * match each of the 27 res-0 coordinates per face to the nearest
    * base-cell center with a LOUD ambiguity margin. The companion
    * CCWrot60 rotation table is derived separately ([[rotTable]]) by
    * inverting the index math itself.
    */
  private val faceIjkBC: Array[Array[Array[Array[Int]]]] = {
    // init-time table cross-checks (transcription tripwires)
    require(
      baseCellData.zipWithIndex.count(_._1._5) == 12 &&
        baseCellData.zipWithIndex.forall { case (d, b) =>
          d._5 == H3Bits.isPentagonBase(b)
        },
      "h3: baseCellData pentagon rows disagree with H3Bits.PentagonBases")
    val antipode = Array(17, 18, 19, 15, 16, 12, 13, 14, 10, 11)
    for (f <- 0 until 10) {
      val (la, lo) = faceCenterGeo(f)
      val (ala, alo) = faceCenterGeo(antipode(f))
      require(math.abs(la + ala) < 1e-12 &&
        math.abs(constrainLng(lo - alo + math.Pi)) < 1e-12,
        s"h3: faceCenterGeo faces $f/${antipode(f)} are not antipodal")
    }
    val centers: Array[(Double, Double)] = baseCellData.map { d =>
      faceIjkToGeo(d._1, Array(d._2.toLong, d._3.toLong, d._4.toLong), 0)
    }
    val centerVecs = centers.map { case (la, lo) => geoToVec3(la, lo) }
    val t = Array.fill(20, 3, 3, 3)(-1)
    for (f <- 0 until 20; i <- 0 to 2; j <- 0 to 2; k <- 0 to 2) {
      val ijk = Array(i.toLong, j.toLong, k.toLong)
      val (gla, glo) = faceIjkToGeo(f, ijk, 0)
      val v = geoToVec3(gla, glo)
      var best = -1; var bestD = Double.MaxValue; var second = Double.MaxValue
      var b = 0
      while (b < 122) {
        val cv = centerVecs(b)
        val dx = cv(0) - v(0); val dy = cv(1) - v(1); val dz = cv(2) - v(2)
        val d = dx * dx + dy * dy + dz * dz
        if (d < bestD) { second = bestD; bestD = d; best = b }
        else if (d < second) second = d
        b += 1
      }
      // base cells are ~20° apart; the planar-continuation error two
      // rows off-face (corner slots like (0,2,2)) reaches ~4-5°, so
      // the margin is "winner at most ~8° off AND runner-up at least
      // 2× farther" — decisive, and any residual mismatch would break
      // the exhaustive round-trip spec
      require(bestD < 0.02 && second > 4 * math.max(bestD, 1e-12),
        s"h3: ambiguous base-cell match at face $f ijk ($i,$j,$k): " +
          s"d²=$bestD second=$second")
      t(f)(i)(j)(k) = best
    }
    t
  }

  /** CCW-rotation-60 companion of [[faceIjkBC]], derived by INVERTING
    * the index math rather than transcribing the published table (or
    * trusting angle heuristics, which break at pentagon vertices where
    * sectors are 72° wide): every res-3 cell's canonical FaceIJK comes
    * from the rotation-FREE inverse path ([[h3ToFaceIjk]]); its center
    * is then pushed through the FORWARD projection (nearest face +
    * digit extraction), and the rotation count for that (face, base
    * ijk) slot is the unique r ∈ 0..5 whose rotation schedule
    * reproduces the known index. Conflicting solutions throw at init;
    * slots no center ever reaches stay -1 and refuse loudly at lookup.
    */
  private lazy val rotTable: Array[Array[Array[Array[Int]]]] = {
    val rots = Array.fill(20, 3, 3, 3)(-1)
    val res = 3
    var bc = 0
    while (bc < 122) {
      val root = (1L << 59) | (bc.toLong << 45) | ((1L << 45) - 1)
      for (h <- H3Bits.toChildren(root, res)) {
        val (cf, cc) = h3ToFaceIjk(h)
        val (la, lo) = faceIjkToGeo(cf, cc, res)
        val (f, x, y) = geoToHex2d(la, lo, res)
        val c = hex2dToIjk(x, y)
        val digits = digitLoop(c, res)
        if (c(0) <= 2 && c(1) <= 2 && c(2) <= 2 &&
            faceIjkBC(f)(c(0).toInt)(c(1).toInt)(c(2).toInt) == bc) {
          // collect ALL matching rotation counts: rotation-symmetric
          // digit sequences (the all-zero center child, and pentagon
          // sequences the deleted-subsequence fix maps onto
          // themselves) match several r — only a UNIQUE solution
          // identifies the slot's rotation
          var solved = -1
          var nSolved = 0
          var r = 0
          // pentagon rotations are Z₅ (five Pent60ccw = identity), so
          // candidates run 0..4 there — 0..5 would alias r=0 as {0,5}
          val rMax = if (H3Bits.isPentagonBase(bc)) 5 else 6
          while (r < rMax) {
            if (applyRots(mkIndex(res, bc, digits), bc, f, r) == h) {
              solved = r; nSolved += 1
            }
            r += 1
          }
          require(nSolved >= 1,
            s"h3: no rotation reproduces ${h.toHexString} on face $f")
          if (nSolved == 1) {
            val slot = rots(f)(c(0).toInt)(c(1).toInt)(c(2).toInt)
            require(slot == -1 || slot == solved,
              s"h3: conflicting rotations ($slot vs $solved) at face $f " +
                s"ijk ${c.mkString(",")} (base cell $bc)")
            rots(f)(c(0).toInt)(c(1).toInt)(c(2).toInt) = solved
          }
        }
      }
      bc += 1
    }
    // Sliver closure (r17 ADVICE): a slot only res-3 centers seed can
    // miss a face-equidistance sliver thinner than a res-3 cell. The
    // rotation is a RIGID property of (face, base cell) — a base
    // cell's patch on a face has one orientation — so first PROVE
    // per-(face, bc) uniqueness over every seeded slot, then fill the
    // unseeded slots of each seeded group. What remains unseeded after
    // that must be exactly the three far-CORNER slots per face
    // ((0,2,2)/(2,0,2)/(2,2,0) — the collar regions beyond an icosa
    // vertex, where every point is strictly nearer one of the other
    // four faces, so the forward path can never land there); anything
    // else failing this require is a coverage gap caught AT INIT.
    for (f <- 0 until 20) {
      val byBc = scala.collection.mutable.HashMap[Int, Int]()
      for (i <- 0 to 2; j <- 0 to 2; k <- 0 to 2; if rots(f)(i)(j)(k) >= 0) {
        val bc = faceIjkBC(f)(i)(j)(k)
        val prev = byBc.getOrElse(bc, -1)
        require(prev == -1 || prev == rots(f)(i)(j)(k),
          s"h3: rotation not rigid for base cell $bc on face $f")
        byBc(bc) = rots(f)(i)(j)(k)
      }
      for (i <- 0 to 2; j <- 0 to 2; k <- 0 to 2; if rots(f)(i)(j)(k) < 0) {
        byBc.get(faceIjkBC(f)(i)(j)(k)).foreach(rots(f)(i)(j)(k) = _)
      }
      val unreached = for {
        i <- 0 to 2; j <- 0 to 2; k <- 0 to 2
        if rots(f)(i)(j)(k) < 0
      } yield (i, j, k)
      require(unreached.toSet == Set((0, 2, 2), (2, 0, 2), (2, 2, 0)),
        s"h3: face $f has non-corner unreached rotation slots: $unreached")
    }
    rots
  }

  /** The rotation schedule of the published _faceIjkToH3, applied for
    * a CANDIDATE rotation count — shared by the forward path and the
    * init-time rotation solver.
    */
  private def applyRots(h0: Long, bc: Int, face: Int, numRots: Int): Long = {
    var h = h0
    if (H3Bits.isPentagonBase(bc)) {
      if (leadingNonZeroDigit(h) == 1) {
        h = if (isCwOffset(bc, face)) h3Rotate60(h, ccw = false)
            else h3Rotate60(h, ccw = true)
      }
      var i = 0
      while (i < numRots) { h = h3RotatePent60ccw(h); i += 1 }
    } else {
      var i = 0
      while (i < numRots) { h = h3Rotate60(h, ccw = true); i += 1 }
    }
    h
  }

  private def faceIjkToBaseCell(face: Int, c: Array[Long]): Int =
    faceIjkBC(face)(c(0).toInt)(c(1).toInt)(c(2).toInt)
  private def faceIjkToCCWrot60(face: Int, c: Array[Long]): Int = {
    val r = rotTable(face)(c(0).toInt)(c(1).toInt)(c(2).toInt)
    require(r >= 0,
      s"h3: unreached rotation slot at face $face ijk ${c.mkString(",")}")
    r
  }

  private def isCwOffset(bc: Int, face: Int): Boolean = {
    val d = baseCellData(bc)
    d._5 && (d._6 == face || d._7 == face)
  }

  // ---------- H3 index bit construction (layout in H3Bits) ----------

  private def mkIndex(res: Int, bc: Int, digits: Array[Int]): Long = {
    var h = (1L << 59) | (res.toLong << 52) | (bc.toLong << 45)
    var r = 1
    while (r <= 15) {
      val d = if (r <= res) digits(r - 1).toLong else 7L
      h |= d << (3 * (15 - r))
      r += 1
    }
    h
  }

  private def setDigit(h: Long, r: Int, d: Int): Long = {
    val shift = 3 * (15 - r)
    (h & ~(7L << shift)) | (d.toLong << shift)
  }

  private def leadingNonZeroDigit(h: Long): Int = {
    val res = H3Bits.resolution(h)
    var r = 1
    while (r <= res) {
      val d = H3Bits.digit(h, r)
      if (d != 0) return d
      r += 1
    }
    0
  }

  private val rotCcwDigit = Array(0, 5, 3, 1, 6, 4, 2)
  // ccw: K(1)->IK(5), J(2)->JK(3), JK(3)->K(1), I(4)->IJ(6), IK(5)->I(4), IJ(6)->J(2)
  private val rotCwDigit = Array(0, 3, 6, 2, 5, 1, 4)
  // cw: K(1)->JK(3), J(2)->IJ(6), JK(3)->J(2), I(4)->IK(5), IK(5)->K(1), IJ(6)->I(4)

  private def h3Rotate60(h: Long, ccw: Boolean): Long = {
    val res = H3Bits.resolution(h)
    var out = h
    var r = 1
    while (r <= res) {
      val d = H3Bits.digit(out, r)
      out = setDigit(out, r, if (ccw) rotCcwDigit(d) else rotCwDigit(d))
      r += 1
    }
    out
  }

  private def h3RotatePent60ccw(h0: Long): Long = {
    var h = h0
    val res = H3Bits.resolution(h)
    var found = false
    var r = 1
    while (r <= res) {
      h = setDigit(h, r, rotCcwDigit(H3Bits.digit(h, r)))
      if (!found && H3Bits.digit(h, r) != 0) {
        found = true
        if (leadingNonZeroDigit(h) == 1) h = h3Rotate60(h, ccw = true)
      }
      r += 1
    }
    h
  }

  // ---------- FaceIJK → H3 and back ----------

  /** Digit extraction of the published _faceIjkToH3: aggregates `c`
    * up to res 0 IN PLACE, returning the per-resolution digits.
    */
  private[functions] def digitLoop(c: Array[Long], res: Int): Array[Int] = {
    val digits = new Array[Int](res)
    var r = res - 1
    while (r >= 0) {
      val lastI = c(0); val lastJ = c(1); val lastK = c(2)
      val center = new Array[Long](3)
      if (isClassIII(r + 1)) {
        upAp7(c)
        center(0) = c(0); center(1) = c(1); center(2) = c(2)
        downAp7(center)
      } else {
        upAp7r(c)
        center(0) = c(0); center(1) = c(1); center(2) = c(2)
        downAp7r(center)
      }
      val diff = Array(lastI - center(0), lastJ - center(1), lastK - center(2))
      normalize(diff)
      digits(r) = unitToDigit(diff)
      require(digits(r) >= 0, "h3: non-unit digit diff")
      r -= 1
    }
    digits
  }

  private[functions] def faceIjkToH3(face0: Int, c0: Array[Long], res: Int)
      : Long = {
    val c = c0.clone()
    if (res == 0) {
      require(c(0) <= 2 && c(1) <= 2 && c(2) <= 2,
        "h3: res-0 ijk out of face range")
      return mkIndex(0, faceIjkToBaseCell(face0, c), Array.empty)
    }
    val digits = digitLoop(c, res)
    require(c(0) <= 2 && c(1) <= 2 && c(2) <= 2,
      s"h3: base ijk out of face range: ${c.mkString(",")}")
    val bc = faceIjkToBaseCell(face0, c)
    applyRots(mkIndex(res, bc, digits), bc, face0, faceIjkToCCWrot60(face0, c))
  }

  /** (face, ijk) of the cell, with overage folded onto the correct
    * face — published _h3ToFaceIjk.
    */
  private[functions] def h3ToFaceIjk(h0: Long): (Int, Array[Long]) = {
    var h = h0
    val bc = H3Bits.baseCell(h)
    val res = H3Bits.resolution(h)
    if (H3Bits.isPentagonBase(bc) && leadingNonZeroDigit(h) == 5)
      h = h3Rotate60(h, ccw = false)
    val d = baseCellData(bc)
    var face = d._1
    val c = Array(d._2.toLong, d._3.toLong, d._4.toLong)
    var possibleOverage = true
    if (!H3Bits.isPentagonBase(bc)) {
      // a hexagon whose coordinates stay at the origin cannot overage
      var allCenter = true
      var r = 1
      while (r <= res && allCenter) { allCenter = H3Bits.digit(h, r) == 0; r += 1 }
      if (res == 0 || allCenter) {
        if (d._2 == 0 && d._3 == 0 && d._4 == 0) possibleOverage = false
      }
    }
    var r = 1
    while (r <= res) {
      if (isClassIII(r)) downAp7(c) else downAp7r(c)
      neighbor(c, H3Bits.digit(h, r))
      r += 1
    }
    if (!possibleOverage) return (face, c)
    val origI = c(0); val origJ = c(1); val origK = c(2)
    var adjRes = res
    if (isClassIII(res)) { downAp7r(c); adjRes += 1 }
    val pentLeading4 =
      H3Bits.isPentagonBase(bc) && leadingNonZeroDigit(h) == 4
    var ov = adjustOverageClassII(face, c, adjRes, pentLeading4)
    if (ov._1 != 0) {
      face = ov._2
      if (H3Bits.isPentagonBase(bc)) {
        var again = adjustOverageClassII(face, c, adjRes, pentLeading4 = false)
        while (again._1 != 0) {
          face = again._2
          again = adjustOverageClassII(face, c, adjRes, pentLeading4 = false)
        }
      }
      if (adjRes != res) upAp7r(c)
    } else if (adjRes != res) {
      c(0) = origI; c(1) = origJ; c(2) = origK
    }
    (face, c)
  }

  /** Published _adjustOverageClassII (non-substrate): returns
    * (overage code: 0 none / 1 face edge / 2 new face, new face) and
    * mutates `c` in place. `substrate` scales the grid ×3 (the
    * published cell-boundary vertex grid) and reports landing exactly
    * ON a face edge as code 1.
    */
  private def adjustOverageClassII(face: Int, c: Array[Long], res: Int,
                                   pentLeading4: Boolean,
                                   substrate: Boolean = false): (Int, Int) = {
    var maxDim = maxDimCII(res)
    if (substrate) maxDim *= 3
    val sum = c(0) + c(1) + c(2)
    if (substrate && sum == maxDim) return (1, face)
    if (sum <= maxDim) return (0, face)
    val quadrant =
      if (c(2) > 0) { if (c(1) > 0) 3 /* jk */ else 2 /* ki */ }
      else 1 /* ij */
    if (quadrant == 2 && pentLeading4) {
      // rotate out of the deleted k-axes sequence about the pentagon
      val t = Array(c(0) - maxDim, c(1), c(2))
      rotate60cw(t)
      c(0) = t(0) + maxDim; c(1) = t(1); c(2) = t(2)
    }
    val (nf, ti, tj, tk, ccw) = faceNeighbors(face)(quadrant)
    var i = 0
    while (i < ccw) { rotate60ccw(c); i += 1 }
    var scale = unitScaleCII(res)
    if (substrate) scale *= 3
    c(0) += ti * scale; c(1) += tj * scale; c(2) += tk * scale
    normalize(c)
    if (substrate && c(0) + c(1) + c(2) == maxDim) (1, nf) else (2, nf)
  }

  // ---------- public surface ----------

  /** geoToH3 (degrees in, CH argument order handled by the caller). */
  def geoToH3(latDeg: Double, lngDeg: Double, res: Int): Long = {
    require(res >= 0 && res <= 15, s"geoToH3: resolution $res out of 0..15")
    require(latDeg >= -90.0 && latDeg <= 90.0 &&
      lngDeg >= -180.0 && lngDeg <= 180.0 &&
      !latDeg.isNaN && !lngDeg.isNaN,
      s"geoToH3: ($lngDeg, $latDeg) outside lon [-180,180] / lat [-90,90]")
    val (face, x, y) = geoToHex2d(math.toRadians(latDeg), math.toRadians(lngDeg), res)
    faceIjkToH3(face, hex2dToIjk(x, y), res)
  }

  /** Cell center, (latDeg, lngDeg). */
  def h3ToGeo(h: Long): (Double, Double) = {
    require(H3Bits.isValid(h), s"h3_to_geo: invalid h3 index $h")
    val (face, c) = h3ToFaceIjk(h)
    val (la, lo) = faceIjkToGeo(face, c, H3Bits.resolution(h))
    (math.toDegrees(la), math.toDegrees(lo))
  }

  /** Neighboring cell in ijk direction `dir` (1..6), implemented with
    * the projection machinery alone: step the unit vector in the
    * (class-II substrate) grid, fold overage, re-index. NOTE: near
    * pentagons a step can land on a DISTORTED phantom cell (the move
    * into a deleted sector has no well-defined answer here) — this
    * function always returns a real cell id, and callers must filter
    * with the reciprocity check the way [[gridDisk]] does.
    */
  private[functions] def neighborCell(h: Long, dir: Int): Long = {
    val res = H3Bits.resolution(h)
    val (face0, c) = h3ToFaceIjk(h)
    var face = face0
    var adjRes = res
    if (isClassIII(res)) { downAp7r(c); adjRes += 1 }
    // one res-`res` step expressed in the substrate grid
    val step = unitVecs(dir).clone()
    if (adjRes != res) downAp7r(step)
    c(0) += step(0); c(1) += step(1); c(2) += step(2)
    normalize(c)
    var ov = adjustOverageClassII(face, c, adjRes, pentLeading4 = false)
    var guard = 0
    while (ov._1 != 0 && guard < 4) {
      face = ov._2
      ov = adjustOverageClassII(face, c, adjRes, pentLeading4 = false)
      guard += 1
    }
    if (adjRes != res) upAp7r(c)
    faceIjkToH3(face, c, res)
  }

  /** All cells within grid distance `k` (the published gridDisk /
    * kRing semantics, origin first, then by ring). BFS over
    * [[neighborCell]] with a reciprocity filter: a candidate counts as
    * adjacent only if stepping back from it reaches the source too —
    * this rejects the distorted phantom moves pentagon corners can
    * produce. Loud-capped: k ≤ 32 (a 3k²+3k+1 = 3169-cell disk); a
    * wider per-row disk is a scale bug, not a query.
    */
  def gridDisk(h: Long, k: Int): Array[Long] = {
    require(H3Bits.isValid(h), s"h3_k_ring: invalid h3 index $h")
    require(k >= 0 && k <= 32,
      s"h3_k_ring: k $k out of 0..32 — widen by coarsening the resolution")
    val seen = scala.collection.mutable.LinkedHashSet[Long](h)
    var frontier = List(h)
    var ring = 0
    while (ring < k) {
      val next = scala.collection.mutable.ListBuffer[Long]()
      for (cell <- frontier; d <- 1 to 6) {
        val n = neighborCell(cell, d)
        if (n != cell && !seen.contains(n) && adjacent(cell, n)) {
          seen += n
          next += n
        }
      }
      frontier = next.toList
      ring += 1
    }
    seen.toArray
  }

  /** True adjacency: each reaches the other by a single step. */
  private def adjacent(a: Long, b: Long): Boolean = {
    var d = 1
    while (d <= 6) {
      if (neighborCell(b, d) == a) return true
      d += 1
    }
    false
  }

  /** Grid distance between two same-resolution cells: BFS over rings
    * (loud-capped at 64 — the blocking-join use case probes small
    * neighborhoods; the unbounded variant is a scale bug).
    */
  def gridDistance(a: Long, b: Long): Int = {
    require(H3Bits.isValid(a) && H3Bits.isValid(b),
      "h3_distance: invalid h3 index")
    require(H3Bits.resolution(a) == H3Bits.resolution(b),
      "h3_distance: resolutions differ")
    if (a == b) return 0
    val seen = scala.collection.mutable.HashSet[Long](a)
    var frontier = List(a)
    var ring = 0
    while (ring < 64) {
      ring += 1
      val next = scala.collection.mutable.ListBuffer[Long]()
      for (cell <- frontier; d <- 1 to 6) {
        val n = neighborCell(cell, d)
        if (n == b) return ring
        if (n != cell && !seen.contains(n) && adjacent(cell, n)) {
          seen += n
          next += n
        }
      }
      frontier = next.toList
    }
    throw new IllegalArgumentException(
      s"h3_distance: cells are more than 64 rings apart — " +
        "compute at a coarser resolution")
  }

  /** Flattened (baseCell, ccwRot60) lookup for the DuckDB oracle
    * transcription (queries/H3Sql.scala): index = face·27 + i·9 + j·3
    * + k; -1 marks unreachable slots. This is the h3lib-published
    * faceIjkBaseCells table re-derived (and spec-pinned) here —
    * inlining it into oracle SQL is the same legitimacy class as the
    * S2 Hilbert tables.
    */
  def lookupFlat: (Array[Int], Array[Int]) = {
    val bcs = new Array[Int](540)
    val rots = new Array[Int](540)
    for (f <- 0 until 20; i <- 0 to 2; j <- 0 to 2; k <- 0 to 2) {
      val idx = f * 27 + i * 9 + j * 3 + k
      bcs(idx) = faceIjkBC(f)(i)(j)(k)
      rots(idx) = rotTable(f)(i)(j)(k)
    }
    (bcs, rots)
  }

  /** (homeFace, i, j, k, isPentagon, cwOffset1, cwOffset2) rows for
    * the oracle transcription.
    */
  def baseCellRows: Array[(Int, Int, Int, Int, Boolean, Int, Int)] =
    baseCellData.clone()

  /** (latRad, lngRad, iAxisAzimuthRad) per face for the oracle. */
  def faceRows: Array[(Double, Double, Double)] =
    faceCenterGeo.zip(faceAxesAzCII).map { case ((la, lo), az) => (la, lo, az) }

  // ---------- cell boundary (h3ToGeoBoundary) ----------

  private def downAp3(c: Array[Long]): Unit = {
    // i -> {2,0,1}, j -> {1,2,0}, k -> {0,1,2}
    val i = c(0); val j = c(1); val k = c(2)
    c(0) = 2 * i + j; c(1) = 2 * j + k; c(2) = i + 2 * k
    normalize(c)
  }

  private def downAp3r(c: Array[Long]): Unit = {
    // i -> {2,1,0}, j -> {0,2,1}, k -> {1,0,2}
    val i = c(0); val j = c(1); val k = c(2)
    c(0) = 2 * i + k; c(1) = i + 2 * j; c(2) = j + 2 * k
    normalize(c)
  }

  /** Published substrate-grid vertex offsets of an origin-centered
    * cell: class II uses the aperture-33r grid, class III 33r7r.
    */
  private val vertsCII: Array[Array[Long]] = Array(
    Array(2, 1, 0), Array(1, 2, 0), Array(0, 2, 1),
    Array(0, 1, 2), Array(1, 0, 2), Array(2, 0, 1))
  private val vertsCIII: Array[Array[Long]] = Array(
    Array(5, 4, 0), Array(1, 5, 0), Array(0, 5, 4),
    Array(0, 1, 5), Array(4, 0, 5), Array(5, 0, 1))

  /** adjacentFaceDir[f][nf] = quadrant (1 ij / 2 ki / 3 jk) through
    * which `nf` neighbors `f`; -1 if not adjacent. Derived from
    * [[faceNeighbors]].
    */
  private lazy val adjFaceDir: Array[Array[Int]] = {
    val t = Array.fill(20, 20)(-1)
    for (f <- 0 until 20; q <- 1 to 3) t(f)(faceNeighbors(f)(q)._1) = q
    t
  }

  private def v2dIntersect(p0: (Double, Double), p1: (Double, Double),
                           p2: (Double, Double), p3: (Double, Double))
      : (Double, Double) = {
    val s1 = (p1._1 - p0._1, p1._2 - p0._2)
    val s2 = (p3._1 - p2._1, p3._2 - p2._2)
    val t = (s2._1 * (p0._2 - p2._2) - s2._2 * (p0._1 - p2._1)) /
      (-s2._1 * s1._2 + s1._1 * s2._2)
    (p0._1 + t * s1._1, p0._2 + t * s1._2)
  }

  /** Boundary vertices of a cell, (latDeg, lngDeg), counterclockwise —
    * the published cellToBoundary: vertex offsets in the ×3 substrate
    * grid, per-vertex overage onto the owning face, and for CLASS III
    * cells the extra edge-crossing "distortion" vertices where a cell
    * edge crosses an icosahedron edge (class III grids are rotated
    * ~19.1° off the face edges, so edges near a seam bend there).
    * Hexagons yield 6–10 vertices, pentagons 5–10.
    */
  def cellBoundary(h: Long): Array[(Double, Double)] = {
    require(H3Bits.isValid(h), s"h3_to_geo_boundary: invalid h3 index $h")
    val res = H3Bits.resolution(h)
    val pent = H3Bits.isPentagon(h)
    val (face0, c0) = h3ToFaceIjk(h)
    // center into the aperture-33r (class III: 33r7r) substrate grid
    var adjRes = res
    val center = c0.clone()
    downAp3(center); downAp3r(center)
    if (isClassIII(res)) { downAp7r(center); adjRes += 1 }
    val verts = if (isClassIII(res)) vertsCIII else vertsCII
    val nVerts = if (pent) 5 else 6
    val fijkVerts = Array.tabulate(nVerts) { v =>
      val vc = Array(center(0) + verts(v)(0), center(1) + verts(v)(1),
        center(2) + verts(v)(2))
      normalize(vc)
      vc
    }
    val out = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    var lastFace = -1
    var lastOverage = 0
    var lastCoord: Array[Long] = null // pentagon path: prev ADJUSTED vertex
    val maxDim = maxDimCII(adjRes).toDouble
    val corner0 = (3.0 * maxDim, 0.0)
    val corner1 = (-1.5 * maxDim, 3.0 * Sin60 * maxDim)
    val corner2 = (-1.5 * maxDim, -3.0 * Sin60 * maxDim)
    def edgePair(dir: Int): ((Double, Double), (Double, Double)) = dir match {
      case 1 => (corner0, corner1) // ij
      case 3 => (corner1, corner2) // jk
      case _ => (corner2, corner0) // ki
    }
    for (vert <- 0 to nVerts) {
      val v = vert % nVerts
      val fc = fijkVerts(v).clone()
      var face = face0
      var overage = 0
      if (pent) {
        // pentagon vertices can overage more than once
        var ovr = adjustOverageClassII(face, fc, adjRes,
          pentLeading4 = false, substrate = true)
        while (ovr._1 == 2) {
          face = ovr._2
          ovr = adjustOverageClassII(face, fc, adjRes,
            pentLeading4 = false, substrate = true)
        }
        // class II pentagon vertices sit exactly ON icosa edges: the
        // overage routine can TRANSLATE onto a new face and then report
        // edge-landing (code 1) — the coords are in ovr._2's frame, so
        // the face must follow (when nothing moved, ovr._2 == face and
        // this is a no-op). Missing this collapsed two corners of every
        // class II pentagon — the r17 refusal's root cause.
        face = ovr._2
        overage = ovr._1
      } else {
        val ovr = adjustOverageClassII(face, fc, adjRes,
          pentLeading4 = false, substrate = true)
        if (ovr._1 == 2) face = ovr._2
        overage = ovr._1
      }
      if (isClassIII(res) && vert > 0) {
        if (pent) {
          // every class III pentagon edge crosses an icosa edge:
          // project the CURRENT vertex back onto the previous vertex's
          // face and intersect the edge with that face's edge
          if (face != lastFace) {
            val dirToLast = adjFaceDir(face)(lastFace)
            if (dirToLast > 0) {
              val (nf, ti, tj, tk, ccw) = faceNeighbors(face)(dirToLast)
              val proj = fc.clone()
              var i = 0
              while (i < ccw) { rotate60ccw(proj); i += 1 }
              val scale = unitScaleCII(adjRes) * 3
              proj(0) += ti * scale; proj(1) += tj * scale; proj(2) += tk * scale
              normalize(proj)
              val orig2d0 = ijkToHex2d(lastCoord)
              val orig2d1 = ijkToHex2d(proj)
              val (e0, e1) = edgePair(adjFaceDir(nf)(face))
              val inter = v2dIntersect(orig2d0, orig2d1, e0, e1)
              val (ila, ilo) =
                hex2dToGeo(nf, inter._1, inter._2, adjRes, substrate = true)
              out += ((math.toDegrees(ila), math.toDegrees(ilo)))
            }
          }
        } else if (face != lastFace && lastOverage != 1) {
          // hexagon edge crossing: both endpoint coords live in the
          // CENTER face grid; intersect with the center face's edge
          // toward the face the edge actually LEAVES through — the
          // current face when the last vertex sat on the center face,
          // otherwise the LAST face (an edge coming back home). Using
          // the current face unconditionally picked adjFaceDir(center)
          // (center) = -1 → always the KI edge → rogue far-away
          // distortion vertices on ~20% of coarse class III cells
          // (caught by the r18 sphere-closure area test).
          val lastV = (v + nVerts - 1) % nVerts
          val orig2d0 = ijkToHex2d(fijkVerts(lastV))
          val orig2d1 = ijkToHex2d(fijkVerts(v))
          val face2 = if (lastFace == face0) face else lastFace
          val (e0, e1) = edgePair(adjFaceDir(face0)(face2))
          val inter = v2dIntersect(orig2d0, orig2d1, e0, e1)
          val atVertex = (inter == orig2d0) || (inter == orig2d1)
          if (!atVertex) {
            val (ila, ilo) =
              hex2dToGeo(face0, inter._1, inter._2, adjRes, substrate = true)
            out += ((math.toDegrees(ila), math.toDegrees(ilo)))
          }
        }
      }
      if (vert < nVerts) {
        val (x, y) = ijkToHex2d(fc)
        val (la, lo) = hex2dToGeo(face, x, y, adjRes, substrate = true)
        out += ((math.toDegrees(la), math.toDegrees(lo)))
      }
      lastFace = face
      lastOverage = overage
      lastCoord = fc
    }
    out.toArray
  }

  /** Icosahedron faces the cell intersects (published getIcosahedronFaces
    * semantics): the center's face plus each substrate vertex's
    * post-overage face — the face the vertex math settles on, INCLUDING
    * a translation that then lands exactly on the new face's edge
    * (pentagon corners do this by construction). Sorted ascending;
    * pentagons yield exactly 5 faces.
    */
  def getFaces(h: Long): Array[Int] = {
    require(H3Bits.isValid(h), s"h3_get_faces: invalid h3 index $h")
    val res = H3Bits.resolution(h)
    val pent = H3Bits.isPentagon(h)
    // class II pentagon vertices all sit exactly ON icosa edges, where
    // "which face" is ambiguous — the published algorithm recurses into
    // the class III center child, which crosses the same 5 faces
    if (pent && !isClassIII(res))
      return getFaces(H3Bits.toCenterChild(h, res + 1))
    val (face0, c0) = h3ToFaceIjk(h)
    var adjRes = res
    val center = c0.clone()
    downAp3(center); downAp3r(center)
    if (isClassIII(res)) { downAp7r(center); adjRes += 1 }
    val verts = if (isClassIII(res)) vertsCIII else vertsCII
    val nVerts = if (pent) 5 else 6
    val faces = scala.collection.mutable.SortedSet[Int](face0)
    for (v <- 0 until nVerts) {
      val fc = Array(center(0) + verts(v)(0), center(1) + verts(v)(1),
        center(2) + verts(v)(2))
      normalize(fc)
      var face = face0
      var ovr = adjustOverageClassII(face, fc, adjRes,
        pentLeading4 = false, substrate = true)
      while (ovr._1 == 2) {
        face = ovr._2
        ovr = adjustOverageClassII(face, fc, adjRes,
          pentLeading4 = false, substrate = true)
      }
      // translate-then-edge-land (code 1 with a moved frame) must carry
      // the face along — same root cause as the pentagon boundary fix;
      // for a pre-translation edge landing ovr._2 == face (no-op)
      faces += ovr._2
    }
    faces.toArray
  }

  /** Published mean Earth radius used by the h3 area/length functions. */
  private val EarthRadiusM = 6371007.180918475

  /** Exact cell area in steradians: spherical triangulation of
    * [[cellBoundary]] around the cell center, each triangle by
    * l'Huilier's theorem — the published cellAreaRads2 approach. Works
    * for every cell including pentagons (r18: boundary closed).
    */
  def cellAreaRads2(h: Long): Double = {
    val (claD, cloD) = h3ToGeo(h)
    val c = (math.toRadians(claD), math.toRadians(cloD))
    val vs = cellBoundary(h).map { case (la, lo) =>
      (math.toRadians(la), math.toRadians(lo))
    }
    var area = 0.0
    var i = 0
    while (i < vs.length) {
      area += sphereTriArea(vs(i), vs((i + 1) % vs.length), c)
      i += 1
    }
    area
  }

  /** Exact cell area in m² (mean-Earth-radius sphere). */
  def cellAreaM2(h: Long): Double =
    cellAreaRads2(h) * EarthRadiusM * EarthRadiusM

  /** Great-circle distance in radians (haversine). */
  private def gcDistRads(a: (Double, Double), b: (Double, Double)): Double = {
    val sinLat = math.sin((b._1 - a._1) / 2.0)
    val sinLng = math.sin((b._2 - a._2) / 2.0)
    val x = sinLat * sinLat +
      math.cos(a._1) * math.cos(b._1) * sinLng * sinLng
    2.0 * math.asin(math.sqrt(x))
  }

  /** Spherical triangle area (steradians) by l'Huilier's theorem. */
  private def sphereTriArea(v1: (Double, Double), v2: (Double, Double),
                            v3: (Double, Double)): Double = {
    val a = gcDistRads(v1, v2)
    val b = gcDistRads(v2, v3)
    val c = gcDistRads(v3, v1)
    val s = (a + b + c) / 2.0
    val t = math.tan(s / 2.0) * math.tan((s - a) / 2.0) *
      math.tan((s - b) / 2.0) * math.tan((s - c) / 2.0)
    4.0 * math.atan(math.sqrt(math.max(0.0, t)))
  }

  /** Cells on a shortest grid path from `a` to `b` inclusive (h3Line
    * semantics). Pairs whose centers fold onto the SAME icosa face
    * follow the published local-IJK cube lerp exactly; cross-face
    * pairs walk the BFS shortest path (deterministic: insertion-order
    * frontier, directions 1..6) — the published line is itself
    * unspecified there (h3lib refuses across pentagon distortion), and
    * both paths satisfy the line contract: length = gridDistance + 1,
    * consecutive cells adjacent, endpoints exact.
    */
  def gridPath(a: Long, b: Long): Array[Long] = {
    val n = gridDistance(a, b) // validates indexes, equal res, ≤64 rings
    if (n == 0) return Array(a)
    val res = H3Bits.resolution(a)
    val (fa, ca) = h3ToFaceIjk(a)
    val (fb, cb) = h3ToFaceIjk(b)
    if (fa == fb) {
      // published cube-space lerp: ijk → cube, lerp, round, back
      def toCube(c: Array[Long]): (Double, Double, Double) = {
        val i = -(c(0) - c(2)).toDouble
        val j = (c(1) - c(2)).toDouble
        (i, j, -i - j)
      }
      val (ai, aj, ak) = toCube(ca)
      val (bi, bj, bk) = toCube(cb)
      Array.tabulate(n + 1) { d =>
        val t = d.toDouble / n
        val (ri, rj, rk) =
          cubeRound(ai + (bi - ai) * t, aj + (bj - aj) * t, ak + (bk - ak) * t)
        val ijk = Array(-ri, rj, 0L)
        normalize(ijk)
        faceIjkToH3(fa, ijk, res)
      }
    } else {
      // BFS with parent tracking; gridDistance proved b reachable ≤64
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      val seen = scala.collection.mutable.HashSet[Long](a)
      var frontier = List(a)
      var found = false
      while (!found && frontier.nonEmpty) {
        val next = scala.collection.mutable.ListBuffer[Long]()
        for (cell <- frontier; d <- 1 to 6; if !found) {
          val nb = neighborCell(cell, d)
          if (nb != cell && !seen.contains(nb) && adjacent(cell, nb)) {
            seen += nb
            parent(nb) = cell
            if (nb == b) found = true else next += nb
          }
        }
        frontier = next.toList
      }
      var path = List(b)
      while (path.head != a) path = parent(path.head) :: path
      path.toArray
    }
  }

  /** Published cube rounding: nearest integer cube coordinate. */
  private def cubeRound(i: Double, j: Double, k: Double)
      : (Long, Long, Long) = {
    var ri = math.round(i); var rj = math.round(j); var rk = math.round(k)
    val di = math.abs(ri - i); val dj = math.abs(rj - j)
    val dk = math.abs(rk - k)
    if (di > dj && di > dk) ri = -rj - rk
    else if (dj > dk) rj = -ri - rk
    else rk = -ri - rj
    (ri, rj, rk)
  }

  /** Ring k only (the published hexRing semantics): [[gridDisk]] is
    * BFS insertion-ordered by ring, so ring k is the disk minus the
    * (k−1)-disk prefix. Unlike the published fast path this never
    * fails near pentagons — the BFS handles them like gridDisk does.
    */
  def hexRing(h: Long, k: Int): Array[Long] = {
    val disk = gridDisk(h, k) // validates h and caps k
    if (k == 0) disk
    else disk.drop(gridDisk(h, k - 1).length)
  }

  /** True iff the two same-resolution cells share an edge. */
  def areNeighbors(a: Long, b: Long): Boolean = {
    require(H3Bits.isValid(a) && H3Bits.isValid(b),
      "h3_indexes_are_neighbors: invalid h3 index")
    H3Bits.resolution(a) == H3Bits.resolution(b) && a != b &&
      adjacent(a, b)
  }

  /** Great-circle distance between two (degree) points in radians —
    * the h3PointDist* family (CH argument order lat1, lon1, lat2,
    * lon2).
    */
  def pointDistRads(lat1: Double, lon1: Double,
                    lat2: Double, lon2: Double): Double =
    gcDistRads((math.toRadians(lat1), math.toRadians(lon1)),
      (math.toRadians(lat2), math.toRadians(lon2)))

  def pointDistM(lat1: Double, lon1: Double,
                 lat2: Double, lon2: Double): Double =
    pointDistRads(lat1, lon1, lat2, lon2) * EarthRadiusM

  /** Average hexagon edge length at `res` as the angle it subtends at
    * the Earth's center, in degrees — edge length over the sphere
    * radius, converted (the CH h3EdgeAngle contract).
    */
  def edgeAngleDeg(res: Int): Double =
    math.toDegrees(edgeLengthM(res) / EarthRadiusM)

  /** The 122 res-0 cells, ascending by base cell. */
  def res0Indexes: Array[Long] =
    Array.tabulate(122) { bc =>
      (1L << 59) | (bc.toLong << 45) | ((1L << 45) - 1)
    }

  /** The 12 pentagons at `res` (center-child chains of the pentagon
    * base cells), ascending.
    */
  def pentagonIndexes(res: Int): Array[Long] = {
    require(res >= 0 && res <= 15,
      s"h3_get_pentagon_indexes: resolution $res out of 0..15")
    (0 until 122).filter(H3Bits.isPentagonBase).toArray.map { bc =>
      val root = (1L << 59) | (bc.toLong << 45) | ((1L << 45) - 1)
      if (res == 0) root else H3Bits.toCenterChild(root, res)
    }
  }

  // ---------- unidirectional (directed) edge indexes: published
  // mode-2 layout — the cell index with mode 2 and the step direction
  // (1..6) in the three reserved bits at 56-58.
  //
  // Direction-numbering parity with h3lib (r19 census, H3ProjSpec):
  // HEXAGON origins are bit-parity — every hexagon's six forward
  // steps reach six distinct reciprocal neighbors at res 0-2 (zero
  // ambiguity), and the CH-doc example value (1248204388774707199,
  // direction 1) matches bit-exact. PENTAGON origins are the one
  // documented representational divergence: the geometric d4/d5 steps
  // collide across the deleted K sector, so pentagon edges mint
  // direction set {1,2,3,4,6} where h3lib numbers the same five
  // (origin, destination) pairs {2,3,4,5,6}. Set semantics (origins,
  // destinations, boundaries, lengths) are identical; re-numbering
  // without a published pentagon edge vector to transcribe against
  // would be an unverifiable guess, so the loud divergence stays. ----

  private val ModeMask = 0xFL << 59
  private val EdgeDirMask = 7L << 56

  /** Directed edge origin→destination; the cells must share an edge. */
  def cellsToEdge(origin: Long, dest: Long): Long = {
    require(areNeighbors(origin, dest),
      "h3_get_unidirectional_edge: cells are not neighbors")
    // canonical direction = FIRST step direction reaching `dest`
    // (around a pentagon two directions can reach the same neighbor —
    // the deleted-axis collision; edgesFromCell dedupes the same way)
    var d = 1
    while (d <= 6) {
      if (neighborCell(origin, d) == dest && neighborCell(origin, d) != origin)
        return (origin & ~ModeMask & ~EdgeDirMask) | (2L << 59) | (d.toLong << 56)
      d += 1
    }
    throw new IllegalArgumentException(
      "h3_get_unidirectional_edge: no step direction reaches the " +
        "destination (distorted pentagon move)")
  }

  def edgeIsValid(e: Long): Boolean = {
    val mode = (e >>> 59) & 0xF
    val d = ((e >>> 56) & 7).toInt
    if (mode != 2 || d < 1 || d > 6) return false
    val origin = edgeOrigin(e)
    if (!H3Bits.isValid(origin)) return false
    val dst = neighborCell(origin, d)
    if (dst == origin || !adjacent(origin, dst)) return false
    // canonicality: around a pentagon two directions can reach the
    // same neighbor — only the first-direction encoding is THE edge
    // (the one cellsToEdge and edgesFromCell mint)
    cellsToEdge(origin, dst) == e
  }

  /** Origin cell of a directed edge (mode flipped back to 1). */
  def edgeOrigin(e: Long): Long =
    (e & ~ModeMask & ~EdgeDirMask) | (1L << 59)

  /** Destination cell of a directed edge. */
  def edgeDestination(e: Long): Long = {
    require(edgeIsValid(e), s"h3: invalid unidirectional edge $e")
    neighborCell(edgeOrigin(e), ((e >>> 56) & 7).toInt)
  }

  /** All directed edges FROM a cell (6, or 5 for pentagons). */
  def edgesFromCell(h: Long): Array[Long] = {
    require(H3Bits.isValid(h), s"h3: invalid h3 index $h")
    val seen = scala.collection.mutable.HashSet[Long]()
    (1 to 6).flatMap { d =>
      val n = neighborCell(h, d)
      if (n != h && adjacent(h, n) && seen.add(n))
        Some((h & ~ModeMask & ~EdgeDirMask) | (2L << 59) | (d.toLong << 56))
      else None
    }.toArray
  }

  /** The geodesic boundary of a directed edge: the maximal cyclic run
    * of the ORIGIN's boundary vertices shared with the destination's
    * boundary (2 corners, plus any class III distortion vertices
    * between them), in the origin's winding order.
    */
  def edgeBoundary(e: Long): Array[(Double, Double)] = {
    require(edgeIsValid(e), s"h3: invalid unidirectional edge $e")
    val bo = cellBoundary(edgeOrigin(e))
    val bd = cellBoundary(edgeDestination(e))
    def near(a: (Double, Double), b: (Double, Double)): Boolean =
      math.abs(a._1 - b._1) < 1e-7 && math.abs(a._2 - b._2) < 1e-7
    val shared = bo.map(v => bd.exists(near(v, _)))
    val n = bo.length
    // rotate so the run of shared vertices is contiguous (it is a
    // single run: two convex cells share one edge)
    var start = 0
    while (start < n && !(shared(start) && !shared((start + n - 1) % n)))
      start += 1
    require(start < n, "h3: edge shares no boundary run (tolerance)")
    val run = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    var i = start
    while (shared(i % n) && run.length < n) {
      run += bo(i % n); i += 1
    }
    require(run.length >= 2,
      s"h3: edge boundary run has ${run.length} vertices")
    run.toArray
  }

  /** Exact spherical length of a directed edge in radians: haversine
    * sum over the edge-boundary polyline.
    */
  def exactEdgeLengthRads(e: Long): Double = {
    val b = edgeBoundary(e).map { case (la, lo) =>
      (math.toRadians(la), math.toRadians(lo))
    }
    (1 until b.length).map(i => gcDistRads(b(i - 1), b(i))).sum
  }

  def exactEdgeLengthM(e: Long): Double =
    exactEdgeLengthRads(e) * EarthRadiusM

  /** Published average hex area (m²) by resolution (the v3/CH table). */
  val hexAreaM2: Array[Double] = Array(
    4.25055e12, 6.07221e11, 8.6745854035e10, 1.2392264862e10,
    1.770323552e9, 2.529033645e8, 3.61290521e7, 5.1612932e6,
    7.373276e5, 1.053325e5, 1.50475e4, 2.1496e3, 3.071e2, 4.39e1,
    6.3e0, 9.0e-1)

  /** Published average edge length (m) by resolution (the v3/CH table). */
  val edgeLengthM: Array[Double] = Array(
    1107712.591, 418676.0055, 158244.6558, 59810.85794, 22606.3794,
    8544.408276, 3229.482772, 1220.629759, 461.3546837, 174.3756681,
    65.90780749, 24.9081301, 9.415526211, 3.559893033, 1.348574562,
    0.509713273)
}

// ---------- Catalyst expressions (CH spellings; registered in
// ChDialect next to the H3Bits algebra) ----------

/** Eval/codegen helpers shared by the expressions below. */
object H3ProjExpr {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** CH argument order is (lon, lat, res). */
  def geoToH3Ch(lon: Double, lat: Double, res: Int): Long =
    H3Proj.geoToH3(lat, lon, res)

  /** CH h3ToGeo returns tuple(lon, lat). */
  def toGeoRow(h: Long): InternalRow = {
    val (la, lo) = H3Proj.h3ToGeo(h)
    new GenericInternalRow(Array[Any](lo, la))
  }

  def kRing(h: Long, k: Int): ArrayData =
    ArrayData.toArrayData(H3Proj.gridDisk(h, k))

  def faces(h: Long): ArrayData = ArrayData.toArrayData(H3Proj.getFaces(h))

  /** CH h3ToGeoBoundary returns [(lon, lat), ...]. */
  def boundaryRows(h: Long): ArrayData =
    ArrayData.toArrayData(H3Proj.cellBoundary(h).map { case (la, lo) =>
      new GenericInternalRow(Array[Any](lo, la)): InternalRow
    })

  def distance(a: Long, b: Long): Long = H3Proj.gridDistance(a, b).toLong

  private def resIdx(res: Int, fn: String): Int = {
    require(res >= 0 && res <= 15, s"$fn: resolution $res out of 0..15")
    res
  }
  def hexAreaM2(res: Int): Double = H3Proj.hexAreaM2(resIdx(res, "h3HexAreaM2"))
  def hexAreaKm2(res: Int): Double = hexAreaM2(res) / 1e6
  def edgeLengthM(res: Int): Double =
    H3Proj.edgeLengthM(resIdx(res, "h3EdgeLengthM"))
  def edgeLengthKm(res: Int): Double = edgeLengthM(res) / 1e3

  def cellAreaM2(h: Long): Double = H3Proj.cellAreaM2(h)
  def cellAreaRads2(h: Long): Double = H3Proj.cellAreaRads2(h)
  def line(a: Long, b: Long): ArrayData =
    ArrayData.toArrayData(H3Proj.gridPath(a, b))

  def hexRing(h: Long, k: Int): ArrayData =
    ArrayData.toArrayData(H3Proj.hexRing(h, k))
  def areNeighbors(a: Long, b: Long): Boolean = H3Proj.areNeighbors(a, b)
  def pointDistM(a: Double, b: Double, c: Double, d: Double): Double =
    H3Proj.pointDistM(a, b, c, d)
  def pointDistKm(a: Double, b: Double, c: Double, d: Double): Double =
    H3Proj.pointDistM(a, b, c, d) / 1e3
  def pointDistRads(a: Double, b: Double, c: Double, d: Double): Double =
    H3Proj.pointDistRads(a, b, c, d)
  def edgeAngle(res: Int): Double =
    H3Proj.edgeAngleDeg(resIdx(res, "h3EdgeAngle"))
  def res0Indexes(): ArrayData = ArrayData.toArrayData(H3Proj.res0Indexes)
  def pentagonIndexes(res: Int): ArrayData =
    ArrayData.toArrayData(H3Proj.pentagonIndexes(res))
  def cellsToEdge(o: Long, d: Long): Long = H3Proj.cellsToEdge(o, d)
  def edgeIsValid(e: Long): Boolean = H3Proj.edgeIsValid(e)
  def edgeCells(e: Long): InternalRow = {
    require(H3Proj.edgeIsValid(e), s"h3: invalid unidirectional edge $e")
    new GenericInternalRow(Array[Any](H3Proj.edgeOrigin(e),
      H3Proj.edgeDestination(e)))
  }
  def edgesFromCell(h: Long): ArrayData =
    ArrayData.toArrayData(H3Proj.edgesFromCell(h))
  def edgeBoundary(e: Long): ArrayData =
    ArrayData.toArrayData(H3Proj.edgeBoundary(e).map { case (la, lo) =>
      new GenericInternalRow(Array[Any](lo, la)): InternalRow
    })
  def exactEdgeLengthM(e: Long): Double = H3Proj.exactEdgeLengthM(e)
  def exactEdgeLengthKm(e: Long): Double = H3Proj.exactEdgeLengthM(e) / 1e3
  def exactEdgeLengthRads(e: Long): Double = H3Proj.exactEdgeLengthRads(e)
}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** `geoToH3(lon, lat, res)` → bigint (CH argument order). */
case class GeoToH3(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "geo_to_h3"
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == DoubleType && second.dataType == DoubleType &&
        third.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "geo_to_h3 expects (double lon, double lat, int res)")
  override def nullSafeEval(lon: Any, lat: Any, res: Any): Any =
    H3ProjExpr.geoToH3Ch(lon.asInstanceOf[Double], lat.asInstanceOf[Double],
      res.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon, lat, res) =>
      s"${ev.value} = graft.functions.H3ProjExpr.geoToH3Ch($lon, $lat, $res);")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): GeoToH3 =
    copy(first = f, second = s, third = t)
}

/** `h3ToGeo(h)` → struct(lon, lat) (CH tuple order). */
case class H3ToGeo(child: Expression) extends UnaryExpression {
  override def dataType: DataType = new StructType()
    .add("lon", DoubleType, nullable = false)
    .add("lat", DoubleType, nullable = false)
  override def prettyName: String = "h3_to_geo"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("h3_to_geo expects a bigint h3 index")
  override def nullSafeEval(h: Any): Any =
    H3ProjExpr.toGeoRow(h.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = graft.functions.H3ProjExpr.toGeoRow($h);")
  override protected def withNewChildInternal(c: Expression): H3ToGeo =
    copy(child = c)
}

/** `h3kRing(h, k)` → array of bigint (origin first, then by ring). */
case class H3KRing(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "h3_k_ring"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "h3_k_ring expects (bigint h3 index, int k)")
  override def nullSafeEval(h: Any, k: Any): Any =
    H3ProjExpr.kRing(h.asInstanceOf[Long], k.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, k) =>
      s"${ev.value} = graft.functions.H3ProjExpr.kRing($h, $k);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): H3KRing = copy(left = l, right = r)
}

/** `h3Distance(a, b)` → bigint grid distance (loud-capped BFS). */
case class H3GridDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "h3_distance"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "h3_distance expects two bigint h3 indexes")
  override def nullSafeEval(a: Any, b: Any): Any =
    H3ProjExpr.distance(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.H3ProjExpr.distance($a, $b);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): H3GridDistance = copy(left = l, right = r)
}

private[functions] abstract class H3ResMetric extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects an int resolution")
  protected def helper: String
  override def nullSafeEval(r: Any): Any = evalMetric(r.asInstanceOf[Int])
  protected def evalMetric(res: Int): Double
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, r =>
      s"${ev.value} = graft.functions.H3ProjExpr.$helper($r);")
}

case class H3HexAreaM2(child: Expression) extends H3ResMetric {
  override def prettyName: String = "h3_hex_area_m2"
  override protected def helper: String = "hexAreaM2"
  override protected def evalMetric(res: Int): Double = H3ProjExpr.hexAreaM2(res)
  override protected def withNewChildInternal(c: Expression): H3HexAreaM2 =
    copy(child = c)
}

case class H3HexAreaKm2(child: Expression) extends H3ResMetric {
  override def prettyName: String = "h3_hex_area_km2"
  override protected def helper: String = "hexAreaKm2"
  override protected def evalMetric(res: Int): Double = H3ProjExpr.hexAreaKm2(res)
  override protected def withNewChildInternal(c: Expression): H3HexAreaKm2 =
    copy(child = c)
}

case class H3EdgeLengthM(child: Expression) extends H3ResMetric {
  override def prettyName: String = "h3_edge_length_m"
  override protected def helper: String = "edgeLengthM"
  override protected def evalMetric(res: Int): Double = H3ProjExpr.edgeLengthM(res)
  override protected def withNewChildInternal(c: Expression): H3EdgeLengthM =
    copy(child = c)
}

case class H3EdgeLengthKm(child: Expression) extends H3ResMetric {
  override def prettyName: String = "h3_edge_length_km"
  override protected def helper: String = "edgeLengthKm"
  override protected def evalMetric(res: Int): Double = H3ProjExpr.edgeLengthKm(res)
  override protected def withNewChildInternal(c: Expression): H3EdgeLengthKm =
    copy(child = c)
}

/** `h3ToGeoBoundary(h)` → array of struct(lon, lat) (CH tuple order). */
case class H3ToGeoBoundary(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(new StructType()
    .add("lon", DoubleType, nullable = false)
    .add("lat", DoubleType, nullable = false), containsNull = false)
  override def prettyName: String = "h3_to_geo_boundary"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "h3_to_geo_boundary expects a bigint h3 index")
  override def nullSafeEval(h: Any): Any =
    H3ProjExpr.boundaryRows(h.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = graft.functions.H3ProjExpr.boundaryRows($h);")
  override protected def withNewChildInternal(c: Expression): H3ToGeoBoundary =
    copy(child = c)
}

/** `h3Line(a, b)` → array of bigint cells on a shortest grid path. */
case class H3Line(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "h3_line"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "h3_line expects two bigint h3 indexes")
  override def nullSafeEval(a: Any, b: Any): Any =
    H3ProjExpr.line(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.H3ProjExpr.line($a, $b);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): H3Line = copy(left = l, right = r)
}

/** `h3CellAreaM2(h)` → exact spherical cell area in m². */
case class H3CellAreaM2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "h3_cell_area_m2"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "h3_cell_area_m2 expects a bigint h3 index")
  override def nullSafeEval(h: Any): Any =
    H3ProjExpr.cellAreaM2(h.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = graft.functions.H3ProjExpr.cellAreaM2($h);")
  override protected def withNewChildInternal(c: Expression): H3CellAreaM2 =
    copy(child = c)
}

/** `h3CellAreaRads2(h)` → exact spherical cell area in steradians. */
case class H3CellAreaRads2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "h3_cell_area_rads2"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "h3_cell_area_rads2 expects a bigint h3 index")
  override def nullSafeEval(h: Any): Any =
    H3ProjExpr.cellAreaRads2(h.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = graft.functions.H3ProjExpr.cellAreaRads2($h);")
  override protected def withNewChildInternal(c: Expression): H3CellAreaRads2 =
    copy(child = c)
}

/** Unary bigint-index h3 expressions share this eval/codegen shape. */
private[functions] abstract class H3UnaryIdx extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a bigint h3 index")
  protected def helper: String
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = graft.functions.H3ProjExpr.$helper($h);")
}

/** `h3HexRing(h, k)` → array of the cells at grid distance exactly k. */
case class H3HexRing(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "h3_hex_ring"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "h3_hex_ring expects (bigint h3 index, int k)")
  override def nullSafeEval(h: Any, k: Any): Any =
    H3ProjExpr.hexRing(h.asInstanceOf[Long], k.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, k) =>
      s"${ev.value} = graft.functions.H3ProjExpr.hexRing($h, $k);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): H3HexRing = copy(left = l, right = r)
}

/** `h3IndexesAreNeighbors(a, b)` → boolean shared-edge test. */
case class H3IndexesAreNeighbors(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "h3_indexes_are_neighbors"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "h3_indexes_are_neighbors expects two bigint h3 indexes")
  override def nullSafeEval(a: Any, b: Any): Any =
    H3ProjExpr.areNeighbors(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.H3ProjExpr.areNeighbors($a, $b);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): H3IndexesAreNeighbors =
    copy(left = l, right = r)
}

/** `h3PointDist{M,Km,Rads}(lat1, lon1, lat2, lon2)` great-circle
  * distance (CH argument order).
  */
case class H3PointDist(first: Expression, second: Expression,
                       third: Expression, fourth: Expression, unit: String)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = s"h3_point_dist_${unit.toLowerCase}"
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects four double coordinates")
  private def helper: String = unit match {
    case "M" => "pointDistM"
    case "Km" => "pointDistKm"
    case _ => "pointDistRads"
  }
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = unit match {
    case "M" => H3ProjExpr.pointDistM(a.asInstanceOf[Double],
      b.asInstanceOf[Double], c.asInstanceOf[Double], d.asInstanceOf[Double])
    case "Km" => H3ProjExpr.pointDistKm(a.asInstanceOf[Double],
      b.asInstanceOf[Double], c.asInstanceOf[Double], d.asInstanceOf[Double])
    case _ => H3ProjExpr.pointDistRads(a.asInstanceOf[Double],
      b.asInstanceOf[Double], c.asInstanceOf[Double], d.asInstanceOf[Double])
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"${ev.value} = graft.functions.H3ProjExpr.$helper($a, $b, $c, $d);")
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): H3PointDist =
    copy(first = a, second = b, third = c, fourth = d)
}

case class H3EdgeAngle(child: Expression) extends H3ResMetric {
  override def prettyName: String = "h3_edge_angle"
  override protected def helper: String = "edgeAngle"
  override protected def evalMetric(res: Int): Double = H3ProjExpr.edgeAngle(res)
  override protected def withNewChildInternal(c: Expression): H3EdgeAngle =
    copy(child = c)
}

/** `h3GetPentagonIndexes(res)` → the 12 pentagons at `res`. */
case class H3GetPentagonIndexes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "h3_get_pentagon_indexes"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "h3_get_pentagon_indexes expects an int resolution")
  override def nullSafeEval(r: Any): Any =
    H3ProjExpr.pentagonIndexes(r.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, r =>
      s"${ev.value} = graft.functions.H3ProjExpr.pentagonIndexes($r);")
  override protected def withNewChildInternal(
      c: Expression): H3GetPentagonIndexes = copy(child = c)
}

/** `h3GetUnidirectionalEdge(origin, dest)` → mode-2 edge index. */
case class H3GetUnidirectionalEdge(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "h3_get_unidirectional_edge"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "h3_get_unidirectional_edge expects two bigint h3 indexes")
  override def nullSafeEval(o: Any, d: Any): Any =
    H3ProjExpr.cellsToEdge(o.asInstanceOf[Long], d.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (o, d) =>
      s"${ev.value} = graft.functions.H3ProjExpr.cellsToEdge($o, $d);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): H3GetUnidirectionalEdge =
    copy(left = l, right = r)
}

case class H3UnidirectionalEdgeIsValid(child: Expression) extends H3UnaryIdx {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "h3_unidirectional_edge_is_valid"
  override protected def helper: String = "edgeIsValid"
  override def nullSafeEval(e: Any): Any =
    H3ProjExpr.edgeIsValid(e.asInstanceOf[Long])
  override protected def withNewChildInternal(
      c: Expression): H3UnidirectionalEdgeIsValid = copy(child = c)
}

/** `getH3IndexesFromUnidirectionalEdge(e)` → struct(origin, destination). */
case class H3IndexesFromEdge(child: Expression) extends H3UnaryIdx {
  override def dataType: DataType = new StructType()
    .add("origin", LongType, nullable = false)
    .add("destination", LongType, nullable = false)
  override def prettyName: String = "get_h3_indexes_from_unidirectional_edge"
  override protected def helper: String = "edgeCells"
  override def nullSafeEval(e: Any): Any =
    H3ProjExpr.edgeCells(e.asInstanceOf[Long])
  override protected def withNewChildInternal(
      c: Expression): H3IndexesFromEdge = copy(child = c)
}

/** `getH3UnidirectionalEdgesFromHexagon(h)` → the 5-6 directed edges. */
case class H3EdgesFromCell(child: Expression) extends H3UnaryIdx {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "get_h3_unidirectional_edges_from_hexagon"
  override protected def helper: String = "edgesFromCell"
  override def nullSafeEval(h: Any): Any =
    H3ProjExpr.edgesFromCell(h.asInstanceOf[Long])
  override protected def withNewChildInternal(
      c: Expression): H3EdgesFromCell = copy(child = c)
}

/** `getH3UnidirectionalEdgeBoundary(e)` → array of struct(lon, lat). */
case class H3EdgeBoundary(child: Expression) extends H3UnaryIdx {
  override def dataType: DataType = ArrayType(new StructType()
    .add("lon", DoubleType, nullable = false)
    .add("lat", DoubleType, nullable = false), containsNull = false)
  override def prettyName: String = "get_h3_unidirectional_edge_boundary"
  override protected def helper: String = "edgeBoundary"
  override def nullSafeEval(e: Any): Any =
    H3ProjExpr.edgeBoundary(e.asInstanceOf[Long])
  override protected def withNewChildInternal(
      c: Expression): H3EdgeBoundary = copy(child = c)
}

/** `h3ExactEdgeLength{M,Km,Rads}(e)` → exact spherical edge length. */
case class H3ExactEdgeLength(child: Expression, unit: String)
    extends H3UnaryIdx {
  override def dataType: DataType = DoubleType
  override def prettyName: String = s"h3_exact_edge_length_${unit.toLowerCase}"
  override protected def helper: String = unit match {
    case "M" => "exactEdgeLengthM"
    case "Km" => "exactEdgeLengthKm"
    case _ => "exactEdgeLengthRads"
  }
  override def nullSafeEval(e: Any): Any = unit match {
    case "M" => H3ProjExpr.exactEdgeLengthM(e.asInstanceOf[Long])
    case "Km" => H3ProjExpr.exactEdgeLengthKm(e.asInstanceOf[Long])
    case _ => H3ProjExpr.exactEdgeLengthRads(e.asInstanceOf[Long])
  }
  override protected def withNewChildInternal(
      c: Expression): H3ExactEdgeLength = copy(child = c)
}

/** `h3GetFaces(h)` → sorted array of icosahedron face ids. */
case class H3GetFaces(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "h3_get_faces"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("h3_get_faces expects a bigint h3 index")
  override def nullSafeEval(h: Any): Any =
    H3ProjExpr.faces(h.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = graft.functions.H3ProjExpr.faces($h);")
  override protected def withNewChildInternal(c: Expression): H3GetFaces =
    copy(child = c)
}
