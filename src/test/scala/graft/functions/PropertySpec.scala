package graft.functions

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the kernel semantics (SURVEY §5 test plan, item 4). */
class PropertySpec extends AnyFunSuite {

  /** Run a ScalaCheck property under ScalaTest (no scalatestplus bridge
    * in the offline cache). */
  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, res.status.toString)
  }

  private val vecGen: Gen[Array[Float]] =
    Gen.chooseNum(1, 32).flatMap { n =>
      Gen.listOfN(n, Gen.chooseNum(-100f, 100f)).map(_.toArray)
    }
  private val pairGen: Gen[(Array[Float], Array[Float])] =
    for {
      n <- Gen.chooseNum(1, 32)
      a <- Gen.listOfN(n, Gen.chooseNum(-100f, 100f))
      b <- Gen.listOfN(n, Gen.chooseNum(-100f, 100f))
    } yield (a.toArray, b.toArray)

  test("L2(v, v) = 0 and L2 is symmetric and non-negative") {
    check(forAll(vecGen) { v => VectorKernels.l2(v, v) == 0.0 })
    check(forAll(pairGen) { case (a, b) =>
      VectorKernels.l2(a, b) == VectorKernels.l2(b, a) && VectorKernels.l2(a, b) >= 0.0
    })
  }

  test("cosine distance stays within [0, 2] (given the epsilon guard)") {
    check(forAll(pairGen) { case (a, b) =>
      val d = VectorKernels.cosine(a, b)
      d >= -1e-9 && d <= 2.0 + 1e-9
    })
  }

  test("IP distance is anti-monotone under positive scaling of a matching vector") {
    check(forAll(vecGen.suchThat(v => v.exists(_ != 0f))) { v =>
      // scaling the database vector by 2 doubles the dot product,
      // making the (negated) distance strictly smaller
      VectorKernels.ip(v, v.map(_ * 2f)) < VectorKernels.ip(v, v) ||
        VectorKernels.ip(v, v) == 0.0
    })
  }

  test("normalize is idempotent up to float rounding") {
    check(forAll(vecGen.suchThat(v => v.exists(x => math.abs(x) > 1e-3))) { v =>
      val n1 = VectorKernels.normalize(v)
      val n2 = VectorKernels.normalize(n1)
      n1.zip(n2).forall { case (x, y) => math.abs(x - y) < 1e-3 }
    })
  }

  test("argmin result is a valid index and achieves the minimum distance") {
    val centsGen = for {
      dim <- Gen.chooseNum(1, 16)
      k <- Gen.chooseNum(1, 8)
      cs <- Gen.listOfN(k, Gen.listOfN(dim, Gen.chooseNum(-10f, 10f)).map(_.toArray))
      v <- Gen.listOfN(dim, Gen.chooseNum(-10f, 10f)).map(_.toArray)
    } yield (cs.toArray, v)
    check(forAll(centsGen) { case (cs, v) =>
      val a = VectorKernels.argminCentroid(v, cs)
      val dists = cs.map(c => VectorKernels.l2(v, c))
      a >= 0 && a < cs.length && dists(a) == dists.min
    })
  }

  test("probeLists(k) is a prefix of probeLists(k+1) (top-k monotonicity)") {
    val g = for {
      dim <- Gen.chooseNum(1, 8)
      n <- Gen.chooseNum(2, 10)
      cs <- Gen.listOfN(n, Gen.listOfN(dim, Gen.chooseNum(-10f, 10f)).map(_.toArray))
      v <- Gen.listOfN(dim, Gen.chooseNum(-10f, 10f)).map(_.toArray)
      k <- Gen.chooseNum(1, n - 1)
    } yield (cs.toArray, v, k)
    check(forAll(g) { case (cs, v, k) =>
      val a = VectorKernels.probeLists(v, cs, k, VectorKernels.METRIC_L2).toSeq
      val b = VectorKernels.probeLists(v, cs, k + 1, VectorKernels.METRIC_L2).toSeq
      b.take(k) == a
    })
  }

  test("PQ ADC distance equals exact L2 against the decoded vector") {
    val g = for {
      m <- Gen.oneOf(1, 2, 4)
      dsub <- Gen.chooseNum(1, 4)
      ks <- Gen.chooseNum(2, 8)
      books <- Gen.listOfN(m,
        Gen.listOfN(ks, Gen.listOfN(dsub, Gen.chooseNum(-5f, 5f)).map(_.toArray)).map(_.toArray))
      v <- Gen.listOfN(m * dsub, Gen.chooseNum(-5f, 5f)).map(_.toArray)
      q <- Gen.listOfN(m * dsub, Gen.chooseNum(-5f, 5f)).map(_.toArray)
    } yield (books.toArray, v, q)
    check(forAll(g) { case (books, v, q) =>
      val code = PqKernels.encode(v, books)
      val table = PqKernels.adcTableRaw(q, books, VectorKernels.METRIC_L2)
      val adc = PqKernels.adcDistanceBytes(table, code)
      val exact = VectorKernels.l2(q, PqKernels.decode(code, books))
      math.abs(adc - exact) < 1e-6
    })
  }

  /** A top-k input: k on both sides of [[graft.index.PartialTopK.HeapThreshold]]
    * and a stream shorter or longer than k, with distance ties between
    * different ids, NaN, and exact (dist, id) duplicates placed both
    * adjacent to and apart from their twin. The heap side detects
    * duplicates by id (its documented contract: distance is a function of
    * (qid, id) for every producer), so there each id has one distance. */
  private val topKInputGen: Gen[(Int, Vector[(Double, Long)])] = for {
    k <- Gen.oneOf(1, 3, 1024, 1025, 2000)
    n <- Gen.oneOf(Gen.chooseNum(0, k), Gen.chooseNum(k + 1, 2 * k + 10))
    // coarse distances force ties across ids and exercise the (dist, id) order
    raw <- Gen.listOfN(n, for {
      d <- Gen.chooseNum(0, 5)
      id <- Gen.chooseNum(0L, 2L * n + 1)
      nan <- Gen.chooseNum(0, 19)
    } yield (if (nan == 0) Double.NaN else d.toDouble, id))
    dups <- Gen.listOfN(n / 4 + 1, Gen.zip(Gen.chooseNum(0, math.max(0, n - 1)), Gen.oneOf(0, 1, 7)))
  } yield {
    val base =
      if (k > graft.index.PartialTopK.HeapThreshold) raw.map { case (d, id) =>
        (if (d.isNaN) d else (id * 31 % 6).toDouble, id)
      }.toVector
      else raw.toVector
    // re-insert chosen entries right after themselves (offset 0), one
    // later, or further on
    (k, dups.foldLeft(base) { case (s, (at, off)) =>
      if (s.isEmpty) s
      else {
        val i = at % s.size
        val (a, b) = s.splitAt(math.min(s.size, i + 1 + off))
        (a :+ s(i)) ++ b
      }
    })
  }

  /** The oracle: sort by (dist, id), distinct, take k; NaN never ranks. */
  private def sortDistinctTake(k: Int, cands: Seq[(Double, Long)]) =
    cands.filterNot(_._1.isNaN).distinct.sorted.take(k)

  private def drained(b: graft.index.TopKBuf): Seq[(Double, Long)] = {
    b.drain()
    (0 until b.size).map(j => (b.dist(j), b.id(j)))
  }

  test("TopKBuf: any insert order + any partition into merged buffers == sort-take-k") {
    import graft.index.TopKBuf
    check(Prop.forAllNoShrink(topKInputGen, Gen.chooseNum(0L, 1000L)) { case ((k, cands), seed) =>
      val expected = sortDistinctTake(k, cands)
      // generated order keeps each duplicate where it was placed
      val inOrder = new TopKBuf(k)
      val bounded = cands.forall { case (d, id) => inOrder.insert(d, id).size <= k }
      val rnd = new scala.util.Random(seed)
      val shuffled = rnd.shuffle(cands)
      val direct = shuffled.foldLeft(new TopKBuf(k))((b, c) => b.insert(c._1, c._2))
      // arbitrary partition into sub-buffers, then pairwise merge: a
      // duplicate split across two parts collapses in the merge
      val parts = shuffled.grouped(math.max(1, 1 + rnd.nextInt(7))).map(
        _.foldLeft(new TopKBuf(k))((b, c) => b.insert(c._1, c._2)))
      val merged = parts.foldLeft(new TopKBuf(k))((a, b) => a.merge(b))
      bounded && drained(inOrder) == expected && drained(direct) == expected &&
        drained(merged) == expected
    })
  }

  test("WAV decoder terminates on arbitrary and mutated payloads (throws, never spins)") {
    import graft.pipeline.Multimodal
    val junkGen: Gen[Array[Byte]] = Gen.chooseNum(0, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    check(forAll(junkGen) { bytes =>
      try { Multimodal.decodeWav(bytes); true }
      catch { case _: IllegalArgumentException | _: java.nio.BufferUnderflowException => true }
    })
    // single-byte mutations of a VALID container (hits the chunk-walk paths)
    val valid = Multimodal.encodeWav(Array[Short](1, -2, 300, -400, 5))
    val mutGen: Gen[(Int, Byte)] = for {
      pos <- Gen.chooseNum(0, valid.length - 1)
      b <- Gen.chooseNum(-128, 127).map(_.toByte)
    } yield (pos, b)
    check(forAll(mutGen) { case (pos, b) =>
      val m = valid.clone(); m(pos) = b
      try { Multimodal.decodeWav(m); true }
      catch { case _: IllegalArgumentException | _: java.nio.BufferUnderflowException => true }
    })
    // and the roundtrip itself stays exact
    val audio = Multimodal.decodeWav(valid)
    assert(audio.samples.toSeq === Seq[Short](1, -2, 300, -400, 5))
    assert(audio.sampleRate === Multimodal.WavSampleRate)
  }

  test("minhash similarity estimate tracks true jaccard of token sets") {
    // deterministic spot-check rather than full generator: two token sets
    // with known overlap; estimated similarity within coarse tolerance
    def sig(tokens: Seq[String]) = {
      import org.apache.spark.unsafe.types.UTF8String
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        tokens.map(t => UTF8String.fromString(t)).toArray[Any])
      (0 until 256).map(i => TextKernels.minhash(arr, 256, 42L).getLong(i))
    }
    val a = (0 until 40).map(i => s"tok$i")
    val b = (20 until 60).map(i => s"tok$i") // jaccard = 20/60 = 1/3
    val est = sig(a).zip(sig(b)).count { case (x, y) => x == y } / 256.0
    assert(math.abs(est - 1.0 / 3.0) < 0.12, s"estimate $est vs true 0.333")
  }

  test("WordNgrams rejects non-positive n at construction") {
    // n <= 0 would silently emit empty-string shingles (the join loop
    // runs zero times) straight into MinHash/LSH — must fail loudly
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val child = Literal.create(Seq("a", "b", "c"), ArrayType(StringType))
    intercept[IllegalArgumentException] { WordNgrams(child, 0) }
    intercept[IllegalArgumentException] { WordNgrams(child, -3) }
  }
}
