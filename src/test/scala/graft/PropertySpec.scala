package graft

import graft.functions.Kvp
import graft.operators.{Exhaustion, NegativeStrategy, Recipes, SamplerState, Selector, TripletRecipe}
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based laws for the pure (driver-side) kit — the invariants
  * the example-based specs can only sample. */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val r = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(100), p)
    assert(r.passed, r.status.toString)
  }

  private val anyString: Gen[String] = Gen.listOf(Gen.choose(0.toChar, 0x2FF.toChar)).map(_.mkString)

  test("keyed read of staged epoch ranks == epochOrder (random skewed pools)") {
    // the sampler resolves each dense epoch position on the driver
    // (Mixing.epochTargets) and reads its record by (source, rank) from
    // the epoch's staged ranks (PoolRankIndex.epochRanks) instead of
    // materializing the corpus-wide order; the law pins that read to the
    // full construction at every requested position, across skewed pools
    // (incl. singleton sources) and epochs 0-3
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.{Mixing, PoolRankIndex, Sampler}
    val rng = new scala.util.Random(31)
    for (trial <- 1 to 6) {
      val nSrc = 1 + rng.nextInt(6)
      val pool = (0 until nSrc).flatMap { s =>
        val n = 1 + rng.nextInt(if (s == 0) 1 else 40) // source 0 is a singleton
        (0 until n).map(i => (s.toLong * 1000 + i, s"src_$s"))
      }
      val df = pool.toDF("id", "source").repartition(5).cache()
      val (ranks, stats) = PoolRankIndex.stage(df)
      val total = pool.size.toLong
      val positions = (Seq(0L, total - 1) ++
        Seq.fill(10)(math.abs(rng.nextLong()) % total)).distinct
      for (epoch <- 0L to 3L) {
        val full = Mixing.epochOrder(df, epoch)
          .filter(org.apache.spark.sql.functions.col("pos").isin(positions: _*))
          .collect().map(r => (r.getAs[Long]("pos"), r.getAs[Long]("id"))).toMap
        val targets = Mixing.epochTargets(stats, epoch, positions)
        val er = PoolRankIndex.epochRankCol(epoch)
        val byKey = Sampler.keyed(PoolRankIndex.epochRanks(ranks, epoch), Seq("source", er),
            targets.map { case (src, r, _) => Seq(src, r) })
          .collect().map(r => (r.getAs[String]("source"), r.getAs[Long](er)) -> r.getAs[Long]("id"))
          .toMap
        val picked = targets.map { case (src, r, p) => p -> byKey((src, r)) }.toMap
        assert(picked == full, s"trial $trial (epoch $epoch, total $total)")
      }
      df.unpersist()
    }
  }

  test("smooth-WRR cumulative counts equal largest-remainder allocation after every full cycle") {
    // the documented delta: Mixing.weightedAllocation is the
    // largest-remainder replacement for the reference's smooth weighted
    // round-robin drain (reference: src/ingestion.rs:607-675) — identical
    // LONG-RUN shares, intentionally different SHORT-RUN interleaving.
    // Law: after every complete cycle (slots = k·Σw, integer weights) the
    // smooth-WRR cumulative pick counts equal the largest-remainder
    // allocation exactly, and the WRR credit state returns to zero.
    val spark = TestSpark.spark
    import spark.implicits._
    val gen = for {
      ws <- Gen.nonEmptyListOf(Gen.choose(1L, 9L)).map(_.take(6))
      cycles <- Gen.choose(1, 3)
    } yield (ws, cycles)
    check(Prop.forAll(gen) { case (ws, cycles) =>
      val n = ws.size
      val tw = ws.sum
      // reference smooth WRR: credit += w; pick argmax (ties → lowest
      // index); picked credit -= Σw
      val credit = Array.fill(n)(0L)
      val counts = Array.fill(n)(0L)
      (0 until (cycles * tw).toInt).foreach { _ =>
        for (i <- 0 until n) credit(i) += ws(i)
        val pick = (0 until n).maxBy(i => (credit(i), -i))
        credit(pick) -= tw
        counts(pick) += 1
      }
      val groups = ws.zipWithIndex.map { case (w, i) => (f"g$i%02d", w) }.toDF("group", "w")
      val alloc = graft.operators.Mixing.weightedAllocation(groups, cycles * tw)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      val equal = (0 until n).forall(i => alloc(f"g$i%02d") == counts(i))
      // and the engine's own smooth-WRR drain (Mixing.smoothWrrDrain, the
      // q129 lane) reproduces this reference loop ORDER for order when
      // buffers never deplete
      val drained = graft.operators.Mixing.smoothWrrDrain(
        ws.zipWithIndex.map { case (w, i) => (f"g$i%02d", w, Long.MaxValue) },
        cycles * tw)
      val sameCounts = drained.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val orderOk = drained.size == (cycles * tw).toInt &&
        (0 until n).forall(i => sameCounts.getOrElse(f"g$i%02d", 0L) == counts(i))
      equal && credit.forall(_ == 0L) && orderOk
    })
  }

  test("smoothWrrDrain depletes buffers exactly like the reference loop (order-for-order)") {
    // the full contract incl. DEPLETION: the reference pops from finite
    // buffers, so eligibility shrinks mid-drain; replay its loop inline
    // and require the identical pick sequence, early halt included
    val gen = for {
      srcs <- Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 7L))).map(_.take(5))
      limit <- Gen.choose(0L, 40L)
    } yield (srcs, limit)
    check(Prop.forAll(gen) { case (srcs, limit) =>
      val n = srcs.size
      val names = (0 until n).map(i => f"s$i%02d")
      val w0 = srcs.map(_._1)
      val ws = if (w0.exists(_ > 0)) w0 else w0.map(_ => 1L) // fill(1.0) rule
      val rem = srcs.map(_._2).toArray
      val credit = Array.fill(n)(0L)
      val expect = scala.collection.mutable.Buffer[(Long, String)]()
      var slot = 0L; var halt = false
      while (slot < limit && !halt) {
        val elig = (0 until n).filter(i => ws(i) > 0 && rem(i) > 0)
        val tw = elig.map(ws(_)).sum
        if (tw == 0) halt = true
        else {
          var best = -1; var bs = Long.MinValue
          elig.foreach { i =>
            credit(i) += ws(i)
            if (credit(i) > bs) { bs = credit(i); best = i }
          }
          credit(best) -= tw; rem(best) -= 1
          expect += ((slot, names(best))); slot += 1
        }
      }
      val got = graft.operators.Mixing.smoothWrrDrain(
        (0 until n).map(i => (names(i), srcs(i)._1, srcs(i)._2)), limit)
      got == expect.toSeq
    })
  }

  test("sampler-state json roundtrip is lossless for arbitrary seeds and counter keys") {
    check(Prop.forAll(anyString, Gen.long,
      Gen.mapOf(Gen.zip(anyString, Gen.long))) { (seed, epoch, counters) =>
      val st = SamplerState(seed, epoch, counters)
      SamplerState.fromJson(SamplerState.toJson(st)).contains(st)
    })
  }

  test("DetRng.shuffle is a deterministic permutation for any seed and list") {
    check(Prop.forAll(anyString, Gen.listOf(Gen.choose(-1000, 1000))) { (seed, xs) =>
      val a = new Kvp.DetRng(seed).shuffle(xs)
      val b = new Kvp.DetRng(seed).shuffle(xs)
      a == b && a.sorted == xs.sorted
    })
  }

  test("ticketOrder: every active recipe gets 1..16 tickets, disabled get none") {
    val genRecipe = for {
      n <- Gen.identifier.map(_.take(12))
      w <- Gen.choose(-1.0f, 4.0f)
    } yield TripletRecipe(n, Selector.RoleAnchor, Selector.RoleContext,
      NegativeStrategy.WrongArticle, weight = w)
    check(Prop.forAll(Gen.listOf(genRecipe), Gen.long) { (rs0, epoch) =>
      val rs = rs0.distinctBy(_.name)
      val plan = Recipes.ticketOrder(rs, "s", epoch)
      val counts = plan.groupBy(identity).view.mapValues(_.size).toMap
      val active = rs.filter(_.weight > 0f)
      plan.forall(n => active.exists(_.name == n)) &&
        active.forall(r => counts.get(r.name).exists(c => c >= 1 && c <= Recipes.MaxWeightMultiplier)) &&
        rs.filterNot(_.weight > 0f).forall(r => !counts.contains(r.name))
    })
  }

  test("exhaustion retry: refresh count == min(failures, limit), success passes through") {
    check(Prop.forAll(Gen.choose(0, 6), Gen.choose(0, 4)) { (failures, limit) =>
      var refreshes = 0
      var calls = 0
      val result =
        try {
          val v = Exhaustion.withRetry[Int]("lbl", limit) { () =>
            calls += 1
            if (calls > failures) Some(42) else None
          } { () => refreshes += 1 }
          Some(v)
        } catch { case _: Exhaustion.Exhausted => None }
      if (failures <= limit) result.contains(42) && refreshes == failures
      else result.isEmpty && refreshes == limit && calls == limit + 1
    })
  }

  test("manifest parse never throws and honors the extension filter") {
    check(Prop.forAll(anyString) { junk =>
      graft.sources.HfManifest.parse(junk).forall(_.url.nonEmpty)
    })
    val urls = Gen.listOf(for {
      stem <- Gen.identifier.map(_.take(8) + Gen.choose(0, 9).sample.get)
      ext <- Gen.oneOf("parquet", "json", "txt")
    } yield s"https://h/$stem.$ext")
    check(Prop.forAll(urls) { us =>
      val json = us.map(u => s"""{"url": "$u", "size": 7}""")
        .mkString("""{"parquet_files": [""", ", ", "]}")
      val parsed = graft.sources.HfManifest.parse(json)
      parsed.forall(_.url.endsWith(".parquet")) &&
        parsed.map(_.url) == parsed.map(_.url).distinct.sorted &&
        parsed.map(_.url).toSet == us.filter(_.endsWith(".parquet")).toSet
    })
  }

  private def checkN(n: Int)(p: Prop): Unit = {
    val r = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  /** Driver-side twin of Determinism.seeded over a long id. */
  private def seededHash(seed: String, id: Long): Long =
    graft.plans.PortableHash32.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"$seed:$id"))

  test("boundary-splitting packer matches a sequential reference simulation") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.Curation
    val gen = for {
      lens <- Gen.nonEmptyListOf(Gen.choose(1, 25)).map(_.take(40))
      budget <- Gen.choose(8, 64)
      shards <- Gen.choose(1, 4)
    } yield (lens, budget.toLong, shards)
    checkN(12)(Prop.forAll(gen) { case (lens, budget, shards) =>
      val docs = lens.zipWithIndex.map { case (len, i) =>
        ((i + 1).toLong, ("t " * len).trim)
      }
      val out = Curation.packSequencesSplit(
          docs.toDF("doc_id", "text"), "doc_id", "text", budget, shards, "p")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      // sequential reference: the same seeded shard + order, a running
      // cursor, slices cut at every budget boundary
      val ref = scala.collection.mutable.Set[(Long, Long, Long, Long, Long)]()
      docs.map { case (id, _) => id }
        .groupBy(id => seededHash("ps:p", id) % shards)
        .foreach { case (shard, ids) =>
          var cum = 0L
          ids.sortBy(id => (seededHash("pk:p", id), id)).foreach { id =>
            val n = lens(id.toInt - 1).toLong
            var t = 0L
            while (t < n) {
              val seq = (cum + t) / budget
              val end = math.min(n, (seq + 1) * budget - cum)
              ref += ((id, shard, seq, t, end))
              t = end
            }
            cum += n
          }
        }
      out == ref.toSet
    })
  }

  test("stratified sampling: exact total, every stratum within 1 of its share") {
    val spark = TestSpark.spark
    import spark.implicits._
    val gen = for {
      sizes <- Gen.nonEmptyListOf(Gen.choose(1, 40)).map(_.take(8))
      t0 <- Gen.choose(1, 60)
    } yield (sizes, t0)
    checkN(12)(Prop.forAll(gen) { case (sizes, t0) =>
      val rows = sizes.zipWithIndex.flatMap { case (n, g) =>
        (1 to n).map(i => (g * 1000L + i, s"g$g"))
      }
      val total = math.min(t0, rows.size).toLong
      val out = graft.operators.Mixing.stratifiedSample(
        rows.toDF("id", "group"), total, "p").collect()
      val per = out.groupBy(_.getString(1)).view.mapValues(_.size).toMap
      val bigN = rows.size.toDouble
      out.length == total && sizes.zipWithIndex.forall { case (n, g) =>
        math.abs(per.getOrElse(s"g$g", 0) - total * n / bigN) < 1.0
      }
    })
  }

  test("temperature allocation: exact sum; alpha=1 proportional, alpha=0 uniform, alpha=1/2 flattens") {
    val spark = TestSpark.spark
    import spark.implicits._
    // engineered skew so flattening is unambiguous despite ±1 remainders
    val counts = Seq(("big", 1000L), ("mid", 90L), ("small", 10L)).toDF("group", "n")
    val batch = 110L
    def alloc(alphaE6: Long): Map[String, Long] =
      graft.operators.Mixing.temperatureAllocation(counts, alphaE6, batch)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val a1 = alloc(1000000L); val a0 = alloc(0L); val ah = alloc(500000L)
    // exact batch total at every temperature
    assert(Seq(a1, a0, ah).forall(_.values.sum == batch))
    // α=1 ≡ largest remainder over the raw counts
    val raw = graft.operators.Mixing.weightedAllocation(
        counts.withColumnRenamed("n", "w"), batch)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(a1 == raw)
    // α=0: uniform within 1
    assert(a0.values.max - a0.values.min <= 1)
    // α=1/2 sits strictly between: the big source gives up mass, the
    // small one gains, ordering by size is preserved
    assert(ah("big") < a1("big") && ah("big") > a0("big"))
    assert(ah("small") > a1("small"))
    assert(ah("big") > ah("mid") && ah("mid") > ah("small"))
    // cross-engine determinism premise: the e6 sqrt weights are the
    // IEEE-exact values the q53 oracle recomputes
    val ws = graft.operators.Mixing.temperatureAllocation(counts, 500000L, batch)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ws == Map("big" -> 31622776L, "mid" -> 9486832L, "small" -> 3162277L))
  }

  test("unimax allocation: epoch caps, budget bound, saturation, hand-pinned walk") {
    val spark = TestSpark.spark
    import spark.implicits._
    def alloc(ns: Seq[(String, Long)], budget: Long, epochs: Long): Map[String, Long] =
      graft.operators.Mixing.unimaxAllocation(ns.toDF("group", "n"), budget, epochs)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    check(Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(1L, 500L)),
      Gen.choose(0L, 5000L), Gen.choose(1L, 4L)) { (ns0, budget, epochs) =>
      val ns = ns0.zipWithIndex.map { case (n, i) => (s"g$i", n) }
      val a = alloc(ns, budget, epochs)
      val byG = ns.toMap
      // never past the epoch cap, never past the budget, nothing negative
      a.forall { case (g, u) => u >= 0 && u <= epochs * byG(g) } &&
        a.values.sum <= budget
    })
    // saturation: budget >= epochs * total means every group caps out
    val ns = Seq(("a", 10L), ("b", 90L), ("c", 400L))
    assert(alloc(ns, 2000L, 3L) == Map("a" -> 30L, "b" -> 270L, "c" -> 1200L))
    // the q137 hand-pinned walk: tail caps bind, the head absorbs the rest
    assert(alloc(Seq(("fr", 64L), ("de", 70L), ("es", 73L), ("zh", 75L), ("en", 218L)),
      900L, 2L) == Map("fr" -> 128L, "de" -> 140L, "es" -> 146L,
      "zh" -> 150L, "en" -> 336L))
  }

  test("denoiser wave rescue: output tokens are an ordered subset of the input") {
    check(Prop.forAll(Gen.listOf(Gen.oneOf("alpha", "beta7", "12345", "9", "x1")),
      Gen.choose(0.05, 0.95)) { (toks, ratio) =>
      val line = toks.mkString(" ")
      val out = graft.functions.Denoiser.stripDigitTokens(line, ratio)
      val outToks = out.split("\\s+").filter(_.nonEmpty).toList
      // ordered-subset check
      def isSubseq(sub: List[String], sup: List[String]): Boolean = sub match {
        case Nil => true
        case h :: t => sup.indexOf(h) match {
          case -1 => false
          case i => isSubseq(t, sup.drop(i + 1))
        }
      }
      isSubseq(outToks, toks)
    })
  }
}
