package graft

import graft.operators.{CnaOps, MutationOps}
import graft.pipelines.Pipelines
import graft.sinks.ParquetSink
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based invariants (SURVEY.md §5.2.3) over randomized inputs —
  * raw scalacheck driven from scalatest (no scalatestplus shim needed). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(name: String, prop: Prop, n: Int = 5): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n).withMaxSize(8), prop)
    assert(res.passed, s"$name: $res")
  }

  private val cell = Gen.oneOf("-2", "-1", "0", "1", "2", "")
  private val matrixGen = for {
    nGenes <- Gen.choose(1, 6)
    nSamples <- Gen.choose(1, 5)
    cells <- Gen.listOfN(nGenes * nSamples, cell)
  } yield (nGenes, nSamples, cells)

  test("pack ∘ unpivot roundtrip: derived melt re-packs to VALUES") {
    check("roundtrip", Prop.forAllNoShrink(matrixGen) {
      case (nGenes, nSamples, cells) =>
        val sampleNames = (1 to nSamples).map(i => s"S$i")
        val header = Seq("Hugo_Symbol", "Entrez_Gene_Id") ++ sampleNames
        val rows = (0 until nGenes).map { g =>
          Seq(s"G$g", g.toString) ++
            (0 until nSamples).map(s => cells(g * nSamples + s))
        }
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(
            rows.map(org.apache.spark.sql.Row(_: _*)), 2),
          graft.core.Schemas.allStringSchema(header))

        val packed = CnaOps.packGeneCentric(df, "st", "pf")
          .collect().map(r => r.getString(2) -> r.getString(3)).toMap
        val repacked = CnaOps.unpivotDerived(df, "st", "pf", withOrder = true)
          .groupBy("GENE_SYMBOL")
          .agg(concat_ws(",", array_sort(collect_list(
            struct(col("__sample_pos"), col("ALTERATION"))))
            .getField("ALTERATION")).as("VALUES"))
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        repacked == packed
    })
  }

  test("winnow rolling hash == closed-form polynomial on random ASCII") {
    val asciiText = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(32, 126)).map(_.map(_.toChar).mkString))
    check("winnow", Prop.forAllNoShrink(Gen.listOfN(4, asciiText)) { texts =>
      val k = 4; val w = 3; val B = 257L; val M = 1000000007L
      def closedForm(t: String): Set[Long] = {
        val bs = t.getBytes("UTF-8").map(_ & 0xffL)
        val hs = (0 to bs.length - k).map { i =>
          (0 until k).map { j =>
            var p = 1L
            (0 until (k - 1 - j)).foreach(_ => p = p * B % M)
            bs(i + j) * p % M
          }.sum % M
        }
        (0 to hs.length - w).map(i => hs.slice(i, i + w).min).toSet
      }
      val got = texts.toDF("text")
        .select(graft.functions.TextExpressions
          .winnowFingerprints(col("text"), k, w).as("fp"))
        .collect().map(_.getSeq[Long](0).toSet)
      got.zip(texts.map(closedForm)) forall { case (a, b) => a == b }
    }, n = 10)
  }

  test("TopKRows rewrite result == sort-take per group on random data") {
    val rowGen = for {
      g <- Gen.chooseNum(0, 4)
      v <- Gen.chooseNum(-100, 100)
      p <- Gen.chooseNum(0L, 1000L)
    } yield (g, v, p)
    check("topk", Prop.forAllNoShrink(Gen.listOfN(60, rowGen)) { rows =>
      val k = 3
      val df = rows.toDF("g", "v", "p")
      val rule = graft.plans.RewriteRankFilterToTopK
      rule.install(spark)
      spark.conf.set(rule.CONF_KEY, "true")
      val got = try {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("v").desc, col("p"))
        val d = df.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
        d.queryExecution.optimizedPlan // force while enabled
        d.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
      } finally spark.conf.set(rule.CONF_KEY, "false")
      val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        rs.sortBy(r => (-r._2, r._3)).take(k).zipWithIndex
          .map { case ((_, v, p), i) => (g, v, p, i + 1) }
      }.toSet
      got == want
    }, n = 10)
  }

  test("window energy conserves total byte sum on random ASCII") {
    import graft.functions.MultimodalExpressions
    val asciiGen = Gen.listOf(Gen.choose(32, 126)).map(_.map(_.toChar).mkString)
    val winGen = Gen.choose(1, 16)
    check("energy", Prop.forAllNoShrink(Gen.listOfN(4, asciiGen), winGen) {
      (texts, win) =>
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        val got = df.select(col("doc_id"),
          MultimodalExpressions.windowEnergy(col("payload"), win).as("e"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        texts.zipWithIndex.forall { case (t, i) =>
          val e = got(i.toLong)
          e.sum == t.map(_.toLong).sum &&
            e.length == (t.length + win - 1) / win &&
            e.zipWithIndex.forall { case (v, w) =>
              v == t.slice(w * win, (w + 1) * win).map(_.toLong).sum }
        }
    })
  }

  test("moment-derived variance/corr match direct formulas on random ints") {
    val rowGen = for {
      q <- Gen.choose(1L, 50L)
      d <- Gen.choose(0L, 10L)
    } yield (q, d)
    check("moments", Prop.forAllNoShrink(Gen.listOfN(40, rowGen)) { rows =>
      val df = rows.toDF("q", "d")
      val m = df.agg(count("*").as("n"),
        sum("q").as("sq"), sum(expr("q*q")).as("sqq"),
        sum("d").as("sd"), sum(expr("d*d")).as("sdd"),
        sum(expr("q*d")).as("sqd")).head()
      val (n, sq, sqq, sd, sdd, sqd) = (m.getLong(0), m.getLong(1),
        m.getLong(2), m.getLong(3), m.getLong(4), m.getLong(5))
      val varQ = (n * sqq - sq * sq).toDouble / (n.toDouble * (n - 1))
      val qs = rows.map(_._1.toDouble); val ds = rows.map(_._2.toDouble)
      val mean = qs.sum / qs.size
      val direct = qs.map(x => (x - mean) * (x - mean)).sum / (qs.size - 1)
      val covOk = {
        val md = ds.sum / ds.size
        val cov = qs.zip(ds).map { case (a, b) => (a - mean) * (b - md) }.sum
        val num = (n * sqd - sq * sd).toDouble
        math.abs(num / n - cov) < 1e-6 * math.max(1.0, math.abs(cov))
      }
      math.abs(varQ - direct) < 1e-9 * math.max(1.0, direct) && covOk
    })
  }

  test("count-min estimates dominate true frequencies on random streams") {
    import graft.functions.CountMin
    val tokGen = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f", "g"))
    check("cms", Prop.forAllNoShrink(tokGen) { toks =>
      toks.isEmpty || {
        val df = toks.toDF("tok").repartition(3)
        val sk = df.agg(CountMin.countMinLong(col("tok"), 3, 16).as("sk"))
        val truth = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val ests = sk.select(truth.keys.toSeq.map(t =>
          CountMin.estimate(col("sk"), lit(t), 3, 16).as(t)): _*).head()
        truth.keys.zipWithIndex.forall { case (t, i) =>
          ests.getLong(i) >= truth(t) // CMS never undercounts
        }
      }
    })
  }

  test("contiguous id invariant: ids are exactly [start, start+count)") {
    check("contiguous", Prop.forAllNoShrink(
      Gen.choose(1, 200), Gen.choose(0L, 1000L)) { (n, start) =>
      val df = (1 to n).map(i => (s"r$i", i)).toDF("k", "v").repartition(3)
      val (stamped, staged) = MutationOps.withContiguousId(df, "id", start)
      val ids = stamped.select("id").collect().map(_.getLong(0)).sorted
      staged.close()
      ids.toSeq == (start until start + n)
    })
  }

  test("MERGE == reference map semantics on random CDC batches") {
    import graft.operators.MergeOps
    val rowGen = for {
      k <- Gen.choose(0L, 12L)
      v <- Gen.choose(0L, 100L)
    } yield (k, v)
    val gen = for {
      target <- Gen.listOfN(8, rowGen)
      source <- Gen.listOfN(5, rowGen)
      delMod <- Gen.choose(2L, 5L)
    } yield (target.distinctBy(_._1), source.distinctBy(_._1), delMod)
    check("merge", Prop.forAllNoShrink(gen) { case (tgt, src, delMod) =>
      val out = MergeOps.merge(
        tgt.toDF("k", "v"),
        src.toDF("k", "v").withColumn("del", col("v") % delMod === 0),
        Seq("k"), deleteWhen = Some(col("del")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // reference: start from target map; matched+del drops, matched
      // updates, unmatched-source inserts (unless its delete fires on a
      // MATCHED row only — source-only rows always insert per SQL MERGE)
      val tm = tgt.toMap
      val expected = tm.keySet.union(src.map(_._1).toSet).flatMap { k =>
        (tm.get(k), src.find(_._1 == k)) match {
          case (Some(_), Some((_, sv))) =>
            if (sv % delMod == 0) None else Some(k -> sv)
          case (Some(tv), None) => Some(k -> tv)
          case (None, Some((_, sv))) => Some(k -> sv)
          case (None, None) => None
        }
      }
      out == expected
    })
  }

  test("norm16 is monotone and in-range across random span regimes") {
    import graft.functions.ZOrderLong
    val gen = for {
      min <- Gen.choose(Long.MinValue / 2, 1L << 40)
      spanPow <- Gen.choose(4, 62)
      nVals <- Gen.choose(2, 6)
      fs <- Gen.listOfN(nVals, Gen.choose(0.0, 1.0))
    } yield (min, spanPow, fs)
    check("norm16", Prop.forAllNoShrink(gen) { case (min, spanPow, fs) =>
      val span = 1L << spanPow
      val max = if (min > Long.MaxValue - span) Long.MaxValue else min + span
      val xs = fs.map(f => min + (span * f).toLong min max).sorted
      val out = xs.toDF("x")
        .select(ZOrderLong.norm16(col("x"), min, max).as("n"))
        .collect().map(_.getLong(0))
      out.forall(n => n >= 0 && n <= 65535) && out.toSeq == out.sorted.toSeq
    })
  }

  test("union-all additivity: combine preserves row counts") {
    // 1–4 per-study inputs of 0–50 rows each, at least one of them
    // empty, written by the importer's own sink; the study named last
    // is written first, so input-path order is not write order
    val sizesGen = for {
      n <- Gen.choose(1, 4)
      sizes <- Gen.listOfN(n, Gen.choose(0, 50))
      empty <- Gen.choose(0, n - 1)
    } yield sizes.updated(empty, 0)
    check("union", Prop.forAllNoShrink(sizesGen) { sizes =>
      val dir = java.nio.file.Files.createTempDirectory("graft_prop_union")
        .toString
      val inputs = sizes.zipWithIndex.map { case (rows, i) =>
        val path = s"$dir/s${sizes.size - i}_t.parquet"
        ParquetSink.write(spark.range(rows)
          .select(lit(i.toLong).as("study"), col("id")), path,
          singleFile = true)
        path -> (0L until rows.toLong).map(r => (i.toLong, r))
      }
      val Seq(out) = Pipelines.combine(spark, dir, "combined", Seq("t"))
      val got = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      got.size == sizes.sum && got == inputs.sortBy(_._1).flatMap(_._2)
    })
  }

  test("drift tolerance: any MAF column subset yields full-schema output") {
    val mafCols = Seq("Entrez_Gene_Id", "Chromosome", "Start_Position",
      "Tumor_Sample_Barcode", "Tumor_Seq_Allele2", "HGVSp_Short",
      "Variant_Classification", "NCBI_Build")
    check("drift", Prop.forAllNoShrink(Gen.someOf(mafCols)) { subset =>
      val header = subset.toSeq
      header.isEmpty || {
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(
            Seq(org.apache.spark.sql.Row(header.map(_ => "val"): _*))),
          graft.core.Schemas.allStringSchema(header))
        val (stamped, staged) = MutationOps.withContiguousId(df)
        val (ev, mu) = MutationOps.transformMaf(stamped, "st", "pf")
        val evRow = ev.head
        staged.close()
        val idx = ev.columns.indexOf("NCBI_BUILD")
        ev.columns.toSeq == graft.core.Schemas.mutationEvent.fieldNames.toSeq &&
          mu.columns.toSeq == graft.core.Schemas.mutation.fieldNames.toSeq &&
          evRow.getString(idx) == (if (header.contains("NCBI_Build")) "val" else "")
      }
    })
  }

  test("schema-op resolution: random rename/drop/re-add histories resolve every file epoch correctly") {
    import graft.sinks.TableLog.SchemaOp
    // model: column IDENTITIES (ints) bound to names; renames move a
    // binding, drops remove it, adds bind a fresh identity — possibly
    // to a freed name (the resurrection hazard). Ground truth for a
    // file written at version v and a current logical name n: the name
    // n's CURRENT identity had at v, or None if it didn't exist then.
    val histGen = for {
      intents <- Gen.listOfN(12, Gen.choose(0, 2))
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (intents, seed)
    check("resolvePhysical", Prop.forAllNoShrink(histGen) {
      case (intents, seed) =>
        val rnd = new scala.util.Random(seed)
        val namePool = Vector("a", "b", "c", "d", "e", "f")
        var bindings = Map("a" -> 0, "b" -> 1, "c" -> 2)
        var nextId = 3
        var ver = 1L
        var ops = List.empty[SchemaOp]
        val snaps = scala.collection.mutable.Map(1L -> bindings)
        intents.foreach { intent =>
          ver += 1
          intent match {
            case 0 =>
              val live = namePool.filter(bindings.contains)
              val free = namePool.filterNot(bindings.contains)
              if (free.nonEmpty) {
                val from = live(rnd.nextInt(live.size))
                val to = free(rnd.nextInt(free.size))
                ops ::= SchemaOp(ver, "rename", from, to)
                bindings = bindings - from + (to -> bindings(from))
              }
            case 1 if bindings.size > 1 =>
              val live = namePool.filter(bindings.contains)
              val c = live(rnd.nextInt(live.size))
              ops ::= SchemaOp(ver, "drop", c, "")
              bindings -= c
            case _ =>
              val free = namePool.filterNot(bindings.contains)
              if (free.nonEmpty) {
                bindings += free(rnd.nextInt(free.size)) -> nextId
                nextId += 1
              }
          }
          snaps(ver) = bindings
        }
        Prop.all((1L to ver).flatMap { fv =>
          val atFile = snaps(fv)
          bindings.toSeq.map { case (n, id) =>
            val actual = graft.sinks.TableLog
              .resolvePhysical(n, ops.filter(_.ver > fv))
            // two invariants: (1) EXACTNESS — an identity alive at file
            // time must resolve to precisely the name it had then (no
            // silent data loss); (2) SAFETY — an identity born later
            // must resolve to None or to a name the file does NOT
            // carry (an absent physical column reads as null; a
            // PRESENT one would resurrect another identity's values)
            val ok = atFile.find(_._2 == id) match {
              case Some((p0, _)) => actual.contains(p0)
              case None => actual.forall(p => !atFile.contains(p))
            }
            Prop(ok) :|
              s"name=$n fileVer=$fv atFile=$atFile actual=$actual ops=${ops.reverse}"
          }
        }: _*)
    }, n = 120)
  }

  test("zBoxIntersects ≡ brute force: the z-interval box test is exact on small boxes") {
    import graft.functions.ZOrderLong
    // small boxes (≤ 8 cells per dim) anywhere in the 65536² cell
    // space, z-intervals biased to be near the box's own z-values
    // (uniform intervals almost never intersect — bias exercises the
    // true branch too)
    val gen = for {
      a0 <- Gen.choose(0L, 65527L)
      aw <- Gen.choose(0L, 7L)
      b0 <- Gen.choose(0L, 65527L)
      bw <- Gen.choose(0L, 7L)
      anchorInBox <- Gen.oneOf(true, false)
      zc <- Gen.choose(0L, (1L << 32) - 1)
      zw <- Gen.choose(0L, 1L << 20)
    } yield {
      val center =
        if (anchorInBox)
          ZOrderLong.interleave(a0 + aw / 2, b0 + bw / 2)
        else zc
      (a0, a0 + aw, b0, b0 + bw,
        math.max(0L, center - zw), center + zw)
    }
    check("zbox", Prop.forAllNoShrink(gen) {
      case (alo, ahi, blo, bhi, zlo, zhi) =>
        val brute = (alo to ahi).exists(a => (blo to bhi).exists { b =>
          val z = ZOrderLong.interleave(a, b); z >= zlo && z <= zhi
        })
        val fast = ZOrderLong.zBoxIntersects(zlo, zhi, alo, ahi, blo, bhi)
        // with the default budget the test is exact on these sizes
        fast == brute
    }, n = 500)
  }

  test("zBox3Intersects ≡ brute force: the octree z3-interval box test is exact on small boxes") {
    import graft.functions.ZOrderLong
    // small boxes (≤ 6 cells per dim) anywhere in the 65536³ cell
    // space, z3-intervals biased near the box's own z-values (same
    // bias rationale as the 2-D test)
    val gen = for {
      a0 <- Gen.choose(0L, 65529L)
      aw <- Gen.choose(0L, 5L)
      b0 <- Gen.choose(0L, 65529L)
      bw <- Gen.choose(0L, 5L)
      c0 <- Gen.choose(0L, 65529L)
      cw <- Gen.choose(0L, 5L)
      anchorInBox <- Gen.oneOf(true, false)
      zc <- Gen.choose(0L, (1L << 48) - 1)
      zw <- Gen.choose(0L, 1L << 28)
    } yield {
      val center =
        if (anchorInBox)
          ZOrderLong.interleave3(a0 + aw / 2, b0 + bw / 2, c0 + cw / 2)
        else zc
      (a0, a0 + aw, b0, b0 + bw, c0, c0 + cw,
        math.max(0L, center - zw), center + zw)
    }
    check("zbox3", Prop.forAllNoShrink(gen) {
      case (alo, ahi, blo, bhi, clo, chi, zlo, zhi) =>
        val brute = (alo to ahi).exists(a => (blo to bhi).exists(b =>
          (clo to chi).exists { c =>
            val z = ZOrderLong.interleave3(a, b, c)
            z >= zlo && z <= zhi
          }))
        val fast = ZOrderLong.zBox3Intersects(
          zlo, zhi, alo, ahi, blo, bhi, clo, chi)
        fast == brute
    }, n = 500)
  }

  test("hilbert encode: bijection on a 64² grid, consecutive indices are grid neighbors") {
    import graft.functions.HilbertLong
    // bijectivity + THE hilbert property (unit steps — what morton
    // lacks at quadrant jumps); exhaustive on the 64² grid, and the
    // scaled grids agree with the production 65536² encode on the
    // shared prefix bits
    val n = 64L
    val cells = for (x <- 0L until n; y <- 0L until n)
      yield (HilbertLong.encode(n, x, y), (x, y))
    val byD = cells.toMap
    assert(byD.size == (n * n).toInt, "encode must be a bijection")
    assert(byD.keys.min == 0L && byD.keys.max == n * n - 1)
    (0L until n * n - 1).foreach { d =>
      val (x0, y0) = byD(d); val (x1, y1) = byD(d + 1)
      assert(math.abs(x0 - x1) + math.abs(y0 - y1) == 1,
        s"d=$d: ($x0,$y0) → ($x1,$y1) is not a unit step")
    }
    // scale coherence: the top bits of the 16-bit encode follow the
    // 6-bit encode (a curve is self-similar, so cell (x,y) on the 64
    // grid contains exactly the 16-bit indices of its 1024² sub-cells)
    (0 until 200).foreach { _ =>
      val x = scala.util.Random.nextInt(64).toLong
      val y = scala.util.Random.nextInt(64).toLong
      val d6 = HilbertLong.encode(64L, x, y)
      val d16 = HilbertLong.encode16(x << 10, y << 10)
      assert(d16 >> 20 == d6, s"($x,$y): 16-bit prefix ${d16 >> 20} != $d6")
    }
  }

  test("hBoxIntersects ≡ brute force: the hilbert-interval box test is exact on small boxes") {
    import graft.functions.HilbertLong
    val gen = for {
      a0 <- Gen.choose(0L, 65527L)
      aw <- Gen.choose(0L, 7L)
      b0 <- Gen.choose(0L, 65527L)
      bw <- Gen.choose(0L, 7L)
      anchorInBox <- Gen.oneOf(true, false)
      hc <- Gen.choose(0L, (1L << 32) - 1)
      hw <- Gen.choose(0L, 1L << 20)
    } yield {
      val center =
        if (anchorInBox)
          HilbertLong.encode16(a0 + aw / 2, b0 + bw / 2)
        else hc
      (a0, a0 + aw, b0, b0 + bw,
        math.max(0L, center - hw), center + hw)
    }
    check("hbox", Prop.forAllNoShrink(gen) {
      case (alo, ahi, blo, bhi, hlo, hhi) =>
        val brute = (alo to ahi).exists(a => (blo to bhi).exists { b =>
          val h = HilbertLong.encode16(a, b); h >= hlo && h <= hhi
        })
        val fast = HilbertLong.hBoxIntersects(hlo, hhi, alo, ahi, blo, bhi)
        fast == brute
    }, n = 500)
  }

  test("interleave3 round-trips: z3 bit positions decode back to their dimensions") {
    import graft.functions.ZOrderLong
    val gen = for {
      a <- Gen.choose(0L, 65535L)
      b <- Gen.choose(0L, 65535L)
      c <- Gen.choose(0L, 65535L)
    } yield (a, b, c)
    check("z3roundtrip", Prop.forAllNoShrink(gen) { case (a, b, c) =>
      val z = ZOrderLong.interleave3(a, b, c)
      def unspread(x0: Long): Long = {
        var r = 0L
        var i = 0
        while (i < 16) { r |= ((x0 >> (3 * i)) & 1L) << i; i += 1 }
        r
      }
      unspread(z >> 2) == a && unspread(z >> 1) == b && unspread(z) == c
    }, n = 300)
  }

  test("h3BoxIntersects ≡ brute force: the aligned-block h3-interval " +
      "box test is exact on small boxes") {
    import graft.functions.Hilbert3
    val gen = for {
      a0 <- Gen.choose(0L, 65529L)
      aw <- Gen.choose(0L, 5L)
      b0 <- Gen.choose(0L, 65529L)
      bw <- Gen.choose(0L, 5L)
      c0 <- Gen.choose(0L, 65529L)
      cw <- Gen.choose(0L, 5L)
      anchorInBox <- Gen.oneOf(true, false)
      dc <- Gen.choose(0L, (1L << 48) - 1)
      dw <- Gen.choose(0L, 1L << 28)
    } yield {
      val center =
        if (anchorInBox)
          Hilbert3.encode16(a0 + aw / 2, b0 + bw / 2, c0 + cw / 2)
        else dc
      (a0, a0 + aw, b0, b0 + bw, c0, c0 + cw,
        math.max(0L, center - dw),
        math.min((1L << 48) - 1, center + dw))
    }
    check("h3box", Prop.forAllNoShrink(gen) {
      case (alo, ahi, blo, bhi, clo, chi, dlo, dhi) =>
        val brute = (alo to ahi).exists(a => (blo to bhi).exists(b =>
          (clo to chi).exists { c =>
            val d = Hilbert3.encode16(a, b, c)
            d >= dlo && d <= dhi
          }))
        val fast = Hilbert3.h3BoxIntersects(
          dlo, dhi, alo, ahi, blo, bhi, clo, chi)
        fast == brute
    }, n = 500)
  }

  test("hilbert3 encode/decode: mutual inverses, bijection prefix, " +
      "consecutive indices are unit grid steps") {
    import graft.functions.Hilbert3
    // inverse roundtrip on random cells of the full 65536³ space
    val rnd = new scala.util.Random(7)
    (0 until 20000).foreach { _ =>
      val (a, b, c) = (rnd.nextInt(65536).toLong,
        rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)
      val d = Hilbert3.encode16(a, b, c)
      assert(d >= 0L && d < (1L << 48))
      val p = Hilbert3.decode16(d)
      assert(Hilbert3.decodeA(p) == a && Hilbert3.decodeB(p) == b &&
        Hilbert3.decodeC(p) == c, s"roundtrip failed at ($a,$b,$c)")
    }
    // THE hilbert property: consecutive indices are Manhattan-1 grid
    // neighbors (what morton-3 lacks at octant jumps) — checked over
    // random index runs across the whole range
    (0 until 200).foreach { _ =>
      val d0 = math.abs(rnd.nextLong()) % ((1L << 48) - 1000)
      (d0 until d0 + 999).foreach { d =>
        val p0 = Hilbert3.decode16(d); val p1 = Hilbert3.decode16(d + 1)
        val step = math.abs(Hilbert3.decodeA(p0) - Hilbert3.decodeA(p1)) +
          math.abs(Hilbert3.decodeB(p0) - Hilbert3.decodeB(p1)) +
          math.abs(Hilbert3.decodeC(p0) - Hilbert3.decodeC(p1))
        assert(step == 1, s"d=$d: step $step is not a unit move")
      }
    }
    // bijectivity (exhaustive on the top-3-plane prefix): the first
    // 8^3 = 512 aligned blocks of the index each map to a distinct
    // 8192-cell-wide octant corner — i.e. the high coord bits of the
    // 512 block starts are all distinct
    val seen = (0 until 512).map { k =>
      val p = Hilbert3.decode16(k.toLong << 39)
      (Hilbert3.decodeA(p) >> 13, Hilbert3.decodeB(p) >> 13,
        Hilbert3.decodeC(p) >> 13)
    }.toSet
    assert(seen.size == 512, "top-level octant walk must be a bijection")
  }
}
