package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class VectorKernelsSpec extends AnyFunSuite {

  private val a = Array(1f, 2f, 3f)
  private val b = Array(4f, 6f, 8f)

  test("l2 is squared L2 without sqrt (kernels.cuh:46)") {
    assert(VectorKernels.l2(a, b) === (9.0 + 16.0 + 25.0))
    assert(VectorKernels.l2(a, a) === 0.0)
  }

  test("ip is the negated dot product (kernels.cuh:59)") {
    assert(VectorKernels.ip(a, b) === -(4.0 + 12.0 + 24.0))
  }

  test("cosine is 1 - cos with 1e-8 epsilon (kernels.cuh:79)") {
    val d = VectorKernels.cosine(a, a)
    assert(math.abs(d) < 1e-7) // identical vectors ~ 0
    val opp = VectorKernels.cosine(a, a.map(-_))
    assert(math.abs(opp - 2.0) < 1e-7) // opposite vectors ~ 2
    // zero vector does not divide by zero thanks to epsilon
    val z = Array(0f, 0f, 0f)
    assert(VectorKernels.cosine(z, a) === 1.0)
  }

  test("cosine is scale-invariant, ip is anti-monotone in scale") {
    val a2 = a.map(_ * 7f)
    assert(math.abs(VectorKernels.cosine(a2, b) - VectorKernels.cosine(a, b)) < 1e-9)
    assert(VectorKernels.ip(a2, b) < VectorKernels.ip(a, b))
  }

  test("normalize produces unit-norm vectors (kernels.cuh:357-385)") {
    val n = VectorKernels.normalize(b)
    val norm = math.sqrt(n.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4)
    // zero vector stays finite (eps in rsqrt)
    assert(VectorKernels.normalize(Array(0f, 0f)).forall(x => !x.isNaN && !x.isInfinite))
  }

  test("argminCentroid ties keep the lowest index (strict < scan)") {
    val cents = Array(Array(1f, 0f), Array(1f, 0f), Array(0f, 1f))
    assert(VectorKernels.argminCentroid(Array(1f, 0f), cents) === 0)
    assert(VectorKernels.argminCentroid(Array(0f, 1f), cents) === 2)
  }

  test("probeLists orders by (dist, id) and caps at nlist") {
    val cents = Array(Array(0f, 0f), Array(1f, 0f), Array(2f, 0f))
    val p = VectorKernels.probeLists(Array(0.9f, 0f), cents, 2, VectorKernels.METRIC_L2)
    assert(p.toSeq === Seq(1, 0))
    val all = VectorKernels.probeLists(Array(0.9f, 0f), cents, 99, VectorKernels.METRIC_L2)
    assert(all.length === 3)
  }

  test("probeLists rejects NaN distances like the top-k buffers do") {
    // a corrupt centroid (NaN component) scanned EARLY must not blank the
    // rest of the probe: an accepted NaN compares false against every
    // later candidate and permanently blocks the buffer tail
    val cents = Array(
      Array(Float.NaN, 0f), // id 0: NaN distance to any query
      Array(1f, 0f), Array(2f, 0f), Array(3f, 0f))
    val p = VectorKernels.probeLists(Array(0.9f, 0f), cents, 2, VectorKernels.METRIC_L2)
    assert(p.toSeq === Seq(1, 2), s"NaN centroid poisoned the probe: ${p.toSeq}")
  }

  test("scratch decode copies an UnsafeArrayData in bulk, bit-identical to getFloat") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}
    val rnd = new scala.util.Random(7)
    val toUnsafe = UnsafeProjection.create(Array[DataType](ArrayType(FloatType, containsNull = true)))
    def bits(a: ArrayData): Seq[Int] =
      (0 until a.numElements()).map(i => java.lang.Float.floatToRawIntBits(a.getFloat(i)))
    val scratch = new VectorKernels.Scratch
    for (dim <- Seq(0, 1, 3, 16, 128, 768, 3)) {
      // special values and a null slot or two ride along with random floats
      val vals: Array[Any] = Array.tabulate(dim) { i =>
        if (i % 17 == 5) null
        else if (i % 17 == 6) Float.NaN
        else if (i % 17 == 7) -0.0f
        else if (i % 17 == 8) Float.MinPositiveValue
        else rnd.nextFloat() * 2f - 1f
      }
      val generic = new GenericArrayData(vals)
      // inside a row, so the array starts past the row's own header
      val unsafe = toUnsafe(InternalRow(generic)).getArray(0)
      assert(unsafe.isInstanceOf[UnsafeArrayData])
      val expected = bits(unsafe)
      assert(scratch.decode(unsafe).map(java.lang.Float.floatToRawIntBits).toSeq === expected,
        s"dim=$dim")
      assert(scratch.decode(generic).map(java.lang.Float.floatToRawIntBits).toSeq === bits(generic),
        s"dim=$dim (generic)")
      val flat = UnsafeArrayData.fromPrimitiveArray(vals.map(v => if (v == null) 0f else v.asInstanceOf[Float]))
      assert(scratch.decode(flat).map(java.lang.Float.floatToRawIntBits).toSeq === bits(flat),
        s"dim=$dim (primitive)")
    }
  }

  test("distancesTo is bit-identical to distance for every pair, metric, dim and remainder") {
    import VectorKernels.{METRIC_COSINE, METRIC_IP, METRIC_L2}
    val rnd = new scala.util.Random(16)
    // mostly ordinary floats, with NaN, ±Inf, subnormals, signed zeros and
    // magnitudes whose squares leave float range mixed in
    def elem(): Float = rnd.nextInt(40) match {
      case 0 => Float.NaN
      case 1 => Float.PositiveInfinity
      case 2 => Float.NegativeInfinity
      case 3 => Float.MinPositiveValue * (1 + rnd.nextInt(1000))
      case 4 => -0.0f
      case 5 => 0.0f
      case 6 => (rnd.nextGaussian() * 1e30).toFloat
      case _ => (rnd.nextGaussian() * 3).toFloat
    }
    def vec(dim: Int, special: Boolean): Array[Float] = rnd.nextInt(12) match {
      case 0 => new Array[Float](dim) // the zero vector
      case _ => Array.fill(dim)(if (special) elem() else (rnd.nextGaussian() * 3).toFloat)
    }
    // every bit of every non-NaN value, signed zeros included. NaNs compare
    // as one value: Java leaves a NaN result's sign and payload to the
    // instruction order the JIT picks, for the scalar kernel alike, and
    // every consumer (TopKBuf, range predicates) treats all NaNs the same
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    var pairs = 0L
    for (dim <- 1 to 1031) {
      val special = dim % 3 == 0
      // a pool of queries; one of them has another length on some dims
      val qvecs = Array.fill(12)(vec(dim, special))
      if (dim % 5 == 0) qvecs(rnd.nextInt(12)) = vec(dim + 1, special)
      // rows of the queries' length, plus one shorter row
      val rows = Seq(vec(dim, special), vec(dim, special), vec(dim - 1, special))
      for (m <- 1 to 9; metric <- Seq(METRIC_L2, METRIC_IP, METRIC_COSINE); v <- rows) {
        // positions in any order, repeats allowed
        val pos = Array.fill(m)(rnd.nextInt(qvecs.length))
        val out = Array.fill(m + 2)(Double.NaN)
        VectorKernels.distancesTo(v, qvecs, pos, metric, out)
        var j = 0
        while (j < m) {
          val want = VectorKernels.distance(v, qvecs(pos(j)), metric)
          assert(bits(out(j)) === bits(want),
            s"dim=$dim m=$m metric=$metric j=$j: ${out(j)} != $want")
          j += 1
        }
        pairs += m
      }
    }
    assert(pairs === 1031L * 45 * 3 * 3)
  }

  test("rangeProbeLists keeps the list of a member at exactly the radius (near-collinear triple)") {
    // one list: centroid c, member v, query q nearly collinear with them
    // and the radius at the member's exact distance. The unwidened test
    // sqrt(l2(q, c)) <= sqrt(radius) + R evaluates 1.8e-15 too large and
    // pruned the list, dropping a true match
    val c = Array(-0.35221314f, -3.2634487f)
    val v = Array(-6.136591f, -0.77524078f)
    val q = Array(-12.065843f, 1.7752861f)
    val radius = VectorKernels.l2(q, v)
    val coverR = math.sqrt(VectorKernels.l2(v, c))
    assert(VectorKernels.rangeProbeLists(q, Array(c), Array(coverR), radius).toSeq === Seq(0))
    // the widening is relative and tiny: a list farther than the radius
    // plus its covering radius still prunes
    assert(VectorKernels.rangeProbeLists(q, Array(c), Array(coverR), radius * 0.999).isEmpty)
  }
}
