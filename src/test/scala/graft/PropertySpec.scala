package graft

import org.scalacheck.{Gen, Prop, Test => ScTest}
import graft.functions.{ScoredCand, TopKAgg, TopKPairs}
import graft.ops.Sampling

/** Property-based hardening of the pure kernels: randomized inputs catch
  * the edge cases example tests miss (extreme ids, adversarial merge
  * orders, duplicate scores). Runs WITHOUT Spark — these are the JVM-side
  * algorithms underneath the operators.
  */
class PropertySpec extends org.scalatest.funsuite.AnyFunSuite {

  private def check(name: String)(p: Prop): Unit = {
    val r = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, s"$name: $r")
  }

  // ---- Sampling.bucket100: overflow-safe, in-range, engine-mirrorable ----

  test("bucket100 arithmetic never overflows and lands in [0, 100) for any non-negative id") {
    // mirror the Column expression exactly in BigInt (the Column itself is
    // asserted against DuckDB by the oracle; this pins the JVM math model)
    def bucketBig(id: Long): BigInt = {
      val lo = BigInt(id) % Sampling.H
      val hi = BigInt(id) >> 31
      val mixed = lo * Sampling.A + hi * Sampling.B + Sampling.C
      // every intermediate must fit a signed 64-bit long — the property
      // that lets Spark AND DuckDB run the same formula without promotion
      assert(mixed.isValidLong, s"intermediate overflow for id=$id")
      (mixed % Sampling.M) % 100
    }
    check("bucket100") {
      Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { id =>
        val b = bucketBig(id)
        b >= 0 && b < 100
      }
    }
    // pin the extremes explicitly
    Seq(0L, 1L, Int.MaxValue.toLong, 1L << 31, (1L << 31) - 1, Long.MaxValue)
      .foreach(id => assert(bucketBig(id) >= 0 && bucketBig(id) < 100))
  }

  // ---- TopKAgg: equals a sort-based reference under any merge order ----

  private def refTopK(xs: Seq[ScoredCand], k: Int): Seq[(Double, Long)] =
    xs.map(c => (c.cos, c.id)).sortBy { case (c, i) => (-c, i) }.take(k)

  private def bufToSeq(p: TopKPairs): Seq[(Double, Long)] =
    p.cs.zip(p.ids).toSeq

  test("TopKAgg(k) equals the sort-based top-k for any inputs, k, and partition split") {
    val candGen = for {
      cos <- Gen.chooseNum(-1.0, 1.0)
      // small id domain on purpose: forces duplicate ids AND (via rounded
      // cos below) duplicate scores, exercising the tie-break path
      id <- Gen.chooseNum(0L, 50L)
    } yield {
      // normalize -0.0 → 0.0: the aggregator (like IEEE ==) treats them
      // equal and tie-breaks by id, while a total-order sort reference
      // (java.lang.Double.compare) would put -0.0 first — the engine's
      // scores come from round(), which already returns +0.0
      val c = math.rint(cos * 20) / 20.0
      ScoredCand(if (c == 0.0) 0.0 else c, id)
    }
    check("topk-agg") {
      Prop.forAll(Gen.listOf(candGen), Gen.chooseNum(1, 30),
        Gen.chooseNum(0, 100)) { (xs, k, splitPct) =>
        val agg = new TopKAgg(k)
        // split into two partitions at an arbitrary point, reduce each,
        // merge — the distributed execution shape
        val cut      = xs.length * splitPct / 100
        val (a, b)   = xs.splitAt(cut)
        val bufA     = a.foldLeft(agg.zero)(agg.reduce)
        val bufB     = b.foldLeft(agg.zero)(agg.reduce)
        val merged   = agg.merge(bufA, bufB)
        bufToSeq(agg.finish(merged)) == refTopK(xs, k)
      }
    }
  }

  test("TopKAgg merge is insensitive to which side is the accumulator") {
    val candGen = Gen.chooseNum(0, 1000).map(i =>
      ScoredCand((i % 7).toDouble, i.toLong))
    check("topk-merge-symmetry") {
      Prop.forAll(Gen.listOf(candGen), Gen.listOf(candGen)) { (a, b) =>
        val agg = new TopKAgg(10)
        val ab = agg.finish(agg.merge(
          a.foldLeft(agg.zero)(agg.reduce), b.foldLeft(agg.zero)(agg.reduce)))
        val ba = agg.finish(agg.merge(
          b.foldLeft(agg.zero)(agg.reduce), a.foldLeft(agg.zero)(agg.reduce)))
        bufToSeq(ab) == bufToSeq(ba)
      }
    }
  }

  // ---- polyHash: codepoint model, mod range, reference agreement --------

  test("MisraGries honors both frequent-items guarantees for any stream and split tree") {
    // items from a small domain (forces real evictions at k=4..8) with a
    // skew knob so some runs have true heavy hitters and others none
    val streamGen = for {
      domain <- Gen.chooseNum(2, 20)
      skew   <- Gen.chooseNum(1, 10)
      xs <- Gen.listOf(Gen.frequency(
        skew -> Gen.const("hot"),
        10   -> Gen.chooseNum(0, domain).map("w" + _)))
    } yield xs
    check("misra-gries") {
      Prop.forAll(streamGen, Gen.chooseNum(4, 8),
        Gen.listOfN(3, Gen.chooseNum(0, 100))) { (xs, k0, cuts0) =>
        // scalacheck shrinking can step outside chooseNum's range (k=-2
        // was observed); clamp both knobs back into their domains
        val k    = math.min(8, math.max(1, k0))
        val cuts = cuts0.map(c => math.min(100, math.max(0, c)))
        val agg = new graft.functions.MisraGries(k)
        // split into up to 4 partitions at arbitrary points, reduce each,
        // then merge left-to-right — an arbitrary distributed shape
        val points = cuts.map(c => xs.length * c / 100).sorted
        val parts = (0 +: points :+ xs.length).sliding(2).collect {
          case Seq(a2, b2) if b2 >= a2 => xs.slice(a2, b2)
        }.toList
        val merged = parts.map(_.foldLeft(agg.zero)(agg.reduce))
          .reduceLeft(agg.merge)
        val out   = agg.finish(merged)
        val est   = out.items.zip(out.ests).toMap
        val exact = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val bound = xs.length.toLong / (k + 1)
        val noMissedHH = exact.forall { case (w, c) =>
          c <= bound || est.contains(w)
        }
        val inEnvelope = est.forall { case (w, e) =>
          val t = exact.getOrElse(w, 0L)
          e <= t && e >= t - bound
        }
        val bounded = out.items.length <= k
        noMissedHH && inEnvelope && bounded
      }
    }
  }

  test("PII redaction is idempotent and removes every match of its own patterns") {
    // pure-JVM mirror of TextOps.redactPii via java.util.regex (same
    // dialect class the Column compiles to)
    val email = "[a-z0-9]+@[a-z]+\\.[a-z]+".r
    val phone = "555-[0-9]{4}".r
    def redact(s: String): String =
      phone.replaceAllIn(email.replaceAllIn(s, "<EMAIL>"), "<PHONE>")
    val txtGen = Gen.listOf(Gen.oneOf(
      Gen.const("plain"), Gen.const("a@b.cd"), Gen.const("user9@mail.com"),
      Gen.const("555-0199"), Gen.const("x555-12345"),
      Gen.alphaLowerStr.map(_.take(8)))).map(_.mkString(" "))
    check("pii-redact") {
      Prop.forAll(txtGen) { s =>
        val r = redact(s)
        redact(r) == r && email.findFirstIn(r).isEmpty &&
          phone.findFirstIn(r).isEmpty
      }
    }
  }

  test("polyHash equals a BigInt reference model over arbitrary unicode strings") {
    import org.apache.spark.unsafe.types.UTF8String
    def ref(s: String): Long = {
      var acc = BigInt(graft.functions.Hashing.Seed)
      s.codePoints().toArray.foreach { cp =>
        acc = (acc * 31 + cp) % graft.functions.Hashing.Mod
      }
      acc.toLong
    }
    check("polyhash-model") {
      Prop.forAll(Gen.listOf(Gen.chooseNum(0x20, 0x10FFFF)
        .suchThat(cp => cp < 0xD800 || cp > 0xDFFF))) { cps =>
        val s = cps.map(Character.toChars(_).mkString).mkString
        val h = graft.functions.Hashing.polyHash(UTF8String.fromString(s))
        h == ref(s) && h >= 0 && h < graft.functions.Hashing.Mod
      }
    }
  }

  // ---- Dedup.bandsFor: the executable LSH S-curve solver --------------

}
