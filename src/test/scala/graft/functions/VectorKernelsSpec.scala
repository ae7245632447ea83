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
}
