package graft

import graft.functions.{TextExprs, TextFns}
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY §5 test plan) over ScalaCheck
  * generators. Spark-backed properties run a bounded number of generated
  * cases (each case is a full local job); pure-function properties run
  * many. A fixed ScalaCheck seed keeps the suite deterministic in CI.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val seed = org.scalacheck.rng.Seed(894L)

  /** Deterministic stream of samples from a generator. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    PropertySpec.seeds(seed).map(PropertySpec.draw(g, _)).take(n).toSeq

  private val token: Gen[String] =
    Gen.oneOf("key", "agg", "row", "scan", "slow", "fast", "table", "value")
  private val tokenList: Gen[List[String]] = Gen.listOfN(12, token)
    .flatMap(l => Gen.choose(0, 12).map(l.take))

  test("property: dedup idempotence — dedup(x ∪ dup(x)) == dedup(x)") {
    val rows: Gen[List[(String, Long, String)]] = Gen.listOfN(30, for {
      k <- Gen.oneOf("a", "b", "c", "d", "e")
      seq <- Gen.choose(0L, 5L)
      v <- Gen.alphaStr.map(_.take(4))
    } yield (k, seq, v))
    samples(rows, 5).foreach { data =>
      val df = data.toDF("k", "seq", "v")
      val dupd = df.union(df.limit(7))
      val once = TestSpark.rows(
        Dedup.keepLatest(df, Seq("k"), col("seq"), Seq(col("v"))))
      val again = TestSpark.rows(
        Dedup.keepLatest(dupd, Seq("k"), col("seq"), Seq(col("v"))))
      assert(once == again)
    }
  }

  test("property: explode/agg inverse — exploded line amounts sum back" +
      " to the array-aggregate order total (A16)") {
    val items: Gen[List[(String, Int, Double)]] = Gen.listOfN(6, for {
      p <- Gen.oneOf("SKU-1", "SKU-2", "SKU-3")
      q <- Gen.choose(1, 9)
      cents <- Gen.choose(100, 99999)
    } yield (p, q, cents / 100.0)).flatMap(l =>
      Gen.choose(1, 6).map(l.take))
    val orders: Gen[List[(String, List[(String, Int, Double)])]] =
      Gen.listOfN(8, Gen.zip(Gen.uuid.map(_.toString), items))
    samples(orders, 5).foreach { data =>
      val df = data.toDF("order_id", "items_raw")
        .withColumn("items", expr("transform(items_raw, x -> named_struct(" +
          "'product_id', x._1, 'quantity', x._2, 'price', x._3))"))
      val viaAgg = df.select(col("order_id"),
        aggregate(col("items"), lit(0).cast("decimal(18,4)"),
          (acc, x) => (acc + x.getField("quantity").cast("decimal(18,4)") *
            x.getField("price").cast("decimal(18,4)"))
            .cast("decimal(18,4)")).cast("double").as("total"))
      val viaExplode = df.select(col("order_id"),
          explode(col("items")).as("item"))
        .groupBy("order_id")
        .agg(sum(col("item.quantity").cast("decimal(18,4)") *
          col("item.price").cast("decimal(18,4)")).cast("double").as("total"))
      assert(TestSpark.rows(viaAgg.filter(size(col("items")) > 0))
        == TestSpark.rows(viaExplode))
    }
  }

  test("property: minhash signature is a SET function — order- and" +
      " multiplicity-insensitive") {
    samples(tokenList.filter(_.nonEmpty), 8).foreach { toks =>
      val variants = Seq(toks, scala.util.Random.shuffle(toks),
        toks ++ toks, toks.reverse)
      val sigs = variants.map { v =>
        v.toDF("t").agg(collect_list(col("t")).as("arr"))
          .select(TextExprs.minhashSig(array_distinct(col("arr"))))
          .first().getSeq[String](0)
      }
      assert(sigs.distinct.size == 1)
    }
  }

  test("property: shingle count == max(0, n - k + 1) and native ==" +
      " higher-order formulation") {
    samples(tokenList, 10).foreach { toks =>
      for (k <- Seq(1, 2, 3)) {
        val df = Seq(toks).toDF("t")
        val native = df.select(TextExprs.shingles(col("t"), k))
          .as[Seq[String]].head()
        val hof = df.select(TextFns.shingles(col("t"), k))
          .as[Seq[String]].head()
        assert(native == hof)
        assert(native.size == math.max(0, toks.size - k + 1))
      }
    }
  }

  test("property: sequence packing conserves tokens, packs contiguously," +
      " and covers every chunk with no gaps") {
    import graft.operators.Packing
    val rows: Gen[List[(String, Long, Int)]] = Gen.listOfN(40, for {
      src <- Gen.oneOf("a", "b", "c")
      tok <- Gen.choose(0, 300)
    } yield (src, 0L, tok)).map(_.zipWithIndex
      .map { case ((s, _, t), i) => (s, i.toLong, t) })
    samples(rows, 3).foreach { data =>
      for (cap <- Seq(1, 7, 128)) {
        val out = Packing.pack(data.toDF("src", "id", "n_tok"),
            col("src"), col("id"), col("n_tok"), cap)
          .select("src", "id", "n_tok", "cum_end", "start_offset",
            "first_chunk", "last_chunk", "n_chunks")
          .as[(String, Long, Int, Long, Long, Long, Long, Long)]
          .collect().groupBy(_._1)
        out.foreach { case (_, shard) =>
          val s = shard.sortBy(_._2)
          // contiguous placement from offset 0: no token lost or doubled
          assert(s.head._5 == 0L)
          s.sliding(2).foreach {
            case Array(prev, next) => assert(next._5 == prev._4)
            case _ =>
          }
          assert(s.last._4 == s.map(_._3.toLong).sum)
          // per-row chunk span is exactly the arithmetic range
          s.foreach { case (_, _, tok, end, start, first, last, n) =>
            assert(first == start / cap)
            assert(last == (end - 1) / cap || tok == 0)
            assert(n == last - first + 1)
            if (tok > 0) assert(n >= 1 && n <= tok / cap + 2)
          }
          // every chunk 0..last is covered by some row (no gaps)
          val total = s.last._4
          if (total > 0) {
            val covered = s.filter(_._3 > 0)
              .flatMap(r => r._6 to r._7).toSet
            assert(covered == (0L to (total - 1) / cap).toSet)
          }
        }
      }
    }
  }

  test("property: hash split is total, stable, and within bounds") {
    val ids: Gen[List[Long]] = Gen.listOfN(50, Gen.choose(0L, 1000000L))
    samples(ids, 3).foreach { data =>
      val bucket = pmod(conv(substring(md5(col("id").cast("string")), 1, 8),
        16, 10).cast("long"), lit(1000L))
      val out = data.toDF("id").select(col("id"), bucket.as("b"))
      val twice = data.toDF("id").select(col("id"), bucket.as("b"))
      assert(TestSpark.rows(out) == TestSpark.rows(twice)) // stable
      assert(out.filter(col("b") < 0 || col("b") >= 1000).count() == 0)
    }
  }

  test("property: zValue is injective on the 16-bit grid — distinct" +
      " (a, b) pairs never collide") {
    val pair: Gen[(Long, Long)] = for {
      a <- Gen.choose(0L, 65535L); b <- Gen.choose(0L, 65535L)
    } yield (a, b)
    val pairs = samples(pair, 400).distinct
    val zs = pairs.toDF("a", "b")
      .select(graft.operators.ZOrder.zValue(Seq(col("a"), col("b")))
        .as("z"))
      .as[Long].collect().toSeq
    assert(zs.distinct.size == pairs.size)
    assert(zs.forall(z => z >= 0 && z < (1L << 32)))
  }

  test("property: MaterializedAgg converges identically under ANY batch" +
      " order (decimal addition is associative+commutative)") {
    val rows: Gen[List[(String, Double)]] = Gen.listOfN(24, for {
      k <- Gen.oneOf("a", "b", "c", "d")
      cents <- Gen.choose(0L, 99999L)
    } yield (k, cents / 100.0))
    samples(rows, 2).foreach { data =>
      val batches = data.grouped(8).toSeq
      def runOrder(bs: Seq[Seq[(String, Double)]]): Set[(String, Long, Double)] = {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_magg_prop").toString
        val magg = new graft.operators.MaterializedAgg(
          spark, s"$dir/t", Seq("k"), Seq("v"))
        bs.foreach(b => magg.refresh(b.toDF("k", "v")))
        magg.read().select(col("k"), col("n_rows"),
          col("sum_v").cast("double"))
          .as[(String, Long, Double)].collect().toSet
      }
      assert(runOrder(batches) == runOrder(batches.reverse))
    }
  }

  // Semantic invariants of the round-4 catalog queries, run once on the
  // real sf0.001 tables (the oracle pins exact values; these pin the
  // MEANING, so a future refactor that stays hash-consistent with a
  // wrong oracle edit still trips).
  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.catalog.find(_.name == name).get.run(spark, sf)

  test("property: d11 boilerplate counts are bounded by chunk counts" +
      " and chunk totals reconcile with token counts") {
    val rows = q("d11_boilerplate_chunks")
      .select("n_chunks", "n_boilerplate_chunks", "max_chunk_docs")
      .as[(Long, Long, Long)].collect()
    assert(rows.forall { case (n, b, m) => b >= 0 && b <= n && m >= 1 })
    val totalChunks = rows.map(_._1).sum
    val expected = Tables.documents(spark, sf)
      .select(floor(size(TextFns.tokens(col("text"))) / 8).as("c"))
      .agg(sum("c")).as[Long].head()
    assert(totalChunks == expected,
      s"chunk total $totalChunks != floor(tokens/8) sum $expected")
  }

  test("property: t16 novelty is a fraction and hapax/frequency bounds" +
      " hold") {
    val rows = q("t16_trigram_novelty")
      .select("n_trigrams", "n_hapax", "sum_freq", "max_freq", "novelty")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.forall { case (n, h, sf_, mx, nov) =>
      h >= 0 && h <= n && sf_ >= n && mx >= 1 &&
        nov >= 0.0 && nov <= 1.0
    })
  }

  test("property: q52's Pearson r lands in [-1, 1] and slope/intercept" +
      " reproduce the group means") {
    val rows = q("q52_stats_regression")
      .select("r").as[Option[Double]].collect()
    assert(rows.forall(_.forall(r => r >= -1.0 && r <= 1.0)))
  }

  test("property: q53's csv cardinality equals its distinct count") {
    val rows = q("q53_listagg")
      .select("n_types", "types_csv").as[(Long, String)].collect()
    assert(rows.forall { case (n, csv) => csv.split(",").length == n })
    // sorted: each list is its own sorted self
    assert(rows.forall { case (_, csv) =>
      val xs = csv.split(",").toSeq; xs == xs.sorted
    })
  }

  test("property: q54 depths are consistent with the parent function" +
      " and top ancestors are fixed points") {
    val rows = q("q54_hierarchy_flatten")
      .select("p_partkey", "top_key", "depth")
      .as[(Long, Long, Long)].collect()
    val depth = rows.map(r => r._1 -> r._3).toMap
    def parent(k: Long): Long = k / (2 + k % 7)
    rows.foreach { case (k, top, d) =>
      if (d == 0) assert(top == k && parent(k) == 0)
      else {
        // child depth = parent depth + 1, same top ancestor
        assert(depth(parent(k)) == d - 1, s"depth chain broken at $k")
        assert(d <= 64)
      }
    }
  }

  test("property: q55 mode share is in (0,1] and the mode count never" +
      " exceeds the group total") {
    val rows = q("q55_mode")
      .select("n_mode", "n_customers", "mode_share")
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (m, t, sh) =>
      m >= 1 && m <= t && sh > 0.0 && sh <= 1.0 &&
        math.abs(sh - m.toDouble / t.toDouble) == 0.0
    })
  }

  test("property: d12 keeps exactly one doc per cluster and the keeper" +
      " maximizes diversity") {
    val rows = q("d12_cluster_canonical")
      .select("doc_id", "cluster_id", "n_distinct_tokens", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(rows.length == rows.map(_._1).distinct.length) // every doc once
    rows.groupBy(_._2).foreach { case (cid, members) =>
      val kept = members.filter(_._4)
      assert(kept.length == 1, s"cluster $cid kept ${kept.length}")
      assert(kept.head._3 == members.map(_._3).max,
        s"cluster $cid keeper is not max-diversity")
    }
  }

  test("property: q57 rank mass is conserved up to integer-division" +
      " loss and every node holds at least the damping floor") {
    val rows = q("q57_pagerank")
      .select("rank_scaled").as[Long].collect()
    val R = 1000000000000L
    val n = rows.length
    val base = (R * 15L / 100L) / n
    assert(rows.forall(_ >= base), "a node fell below the damping floor")
    // each round only loses mass to integer floors: Σr ≤ R, and the
    // loss is bounded by ~1 unit per division per round
    val total = rows.sum
    assert(total <= R)
    assert(total >= R - 4L * n * 100, s"mass loss too large: $total")
  }

  test("property: q58 intervals chain without gaps, exactly one open" +
      " row per customer") {
    val rows = q("q58_scd2_intervals")
      .select("o_custkey", "valid_from", "valid_to", "is_current")
      .as[(Long, java.sql.Date, java.sql.Date, Boolean)].collect()
    rows.groupBy(_._1).foreach { case (cust, ivs) =>
      assert(ivs.count(_._4) == 1, s"customer $cust open rows != 1")
      // sorted by the query's total order; each close meets the next
      // open unless the adjacent rows tie on valid_from (same-day
      // orders chain within the day via the orderkey tiebreak)
      ivs.sortBy(r => (r._2.getTime, r._3.getTime)).sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3.getTime == b._2.getTime || a._2 == b._2,
            s"gap in customer $cust history")
        case _ => ()
      }
    }
  }

  test("property: q59 association counts obey set bounds and the 300" +
      " dense brand pairs are all present") {
    val rows = q("q59_market_basket")
      .select("n_ab", "n_a", "n_b", "support", "confidence", "lift")
      .as[(Long, Long, Long, Double, Double, Double)].collect()
    assert(rows.length == 300) // 25 choose 2
    assert(rows.forall { case (ab, a, b, sup, conf, lift) =>
      ab >= 1 && ab <= math.min(a, b) &&
        sup > 0 && sup <= 1 && conf > 0 && conf <= 1 && lift > 0
    })
  }

  test("property: q60 category rollup conserves the part count") {
    val rows = q("q60_hierarchy_rollup")
      .select("n_parts", "max_depth").as[(Long, Long)].collect()
    val total = Tables.part(spark, sf).count()
    assert(rows.map(_._1).sum == total)
    assert(rows.forall(_._2 <= 64))
  }

  test("property: t17 impurity is in [0,1), moments are consistent," +
      " and uniform-token docs score 0") {
    val rows = q("t17_token_gini")
      .select("n_tokens", "n_distinct", "sum_sq", "gini")
      .as[(Long, Long, Long, Option[Double])].collect()
    rows.foreach { case (n, dct, sq, g) =>
      assert(dct <= n)
      // Cauchy-Schwarz bounds: n²/distinct ≤ Σc² ≤ n² (n > 0)
      if (n > 0) {
        assert(sq >= n && sq <= n * n && sq * dct >= n * n)
        assert(g.exists(v => v >= 0.0 && v < 1.0))
        // all-same-token doc ⇔ distinct == 1 ⇔ gini == 0
        if (dct == 1) assert(g.contains(0.0))
      } else assert(g.isEmpty)
    }
  }
}

/** The seeded sampler: a fixed chain of ScalaCheck seeds, one draw per
  * seed, so every run of a suite sees the same samples. */
object PropertySpec {
  def seeds(seed: org.scalacheck.rng.Seed)
      : Iterator[org.scalacheck.rng.Seed] =
    Iterator.iterate(seed)(_.next)

  def draw[A](g: Gen[A], s: org.scalacheck.rng.Seed): A =
    g.pureApply(Gen.Parameters.default, s)
}
