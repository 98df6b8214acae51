package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed

import graft.archive.{ArchiveReader, Decimation}
import graft.archive.ArchiveReader.AtOrWidened
import graft.core.Samples

/** Property-based checks of the engine's algebraic invariants
  * (SURVEY.md §5): the cascade merge law and the limit-mode boundary
  * matrix, over randomized sample layouts. Deterministic seeds keep CI
  * stable; each property samples a handful of layouts (Spark jobs are
  * expensive per case).
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private val S = 1000000000L

  private def frame(rows: Seq[(Long, Option[Double])]): DataFrame =
    rows.zipWithIndex.map { case ((t, v), i) =>
      ("c", t, v, s"s$i", 0, 0, i.toLong)
    }.toDF("channel", "ts", "value", "str_value", "severity", "status", "sample_id")

  private val layoutGen: Gen[List[(Long, Option[Double])]] = for {
    n <- Gen.choose(2, 40)
    ts <- Gen.listOfN(n, Gen.choose(0L, 120L)).map(_.distinct.sorted)
    vs <- Gen.listOfN(ts.size, Gen.frequency(
      9 -> Gen.choose(-100.0, 100.0).map(Some(_)),
      1 -> Gen.const(Option.empty[Double])))
  } yield ts.zip(vs).map { case (t, v) => (t * S, v) }

  private def layouts(count: Int, seed: Long): Seq[List[(Long, Option[Double])]] =
    (0 until count).flatMap(i =>
      layoutGen.apply(Gen.Parameters.default, Seed(seed + i)))

  test("A2 merge law: reAggregate(decimate(p), p→kp) == decimate(kp) on full windows") {
    for (layout <- layouts(8, seed = 7)) {
      val df = frame(layout)
      val fine = Decimation.decimate(df, 10 * S)
      val merged = Decimation.reAggregate(fine, 10 * S, 30 * S)
        .collect().map(r => r.getLong(1) -> r).toMap
      val direct = Decimation.decimate(df, 30 * S)
        .collect().map(r => r.getLong(1) -> r).toMap
      // compare only coarse windows whose three fine windows all exist
      // (the trailing coarse window may see fewer fine windows than the
      // direct computation, which follows the flush rule exactly)
      val fineWins = fine.collect().map(_.getLong(1)).toSet
      val complete = direct.keySet.intersect(merged.keySet).filter { w =>
        (0 until 3).forall(i => fineWins.contains(w + i * 10 * S))
      }
      for (w <- complete) {
        val (m, d) = (merged(w), direct(w))
        def g(r: org.apache.spark.sql.Row, f: String): Option[Double] = {
          val i = r.fieldIndex(f)
          if (r.isNullAt(i)) None else Some(r.getDouble(i))
        }
        (g(m, "mean"), g(d, "mean")) match {
          case (Some(a), Some(b)) =>
            assert(math.abs(a - b) < 1e-6, s"mean at $w: $a vs $b\n$layout")
          case (a, b) => assert(a == b, s"mean at $w: $a vs $b\n$layout")
        }
        (g(m, "std"), g(d, "std")) match {
          case (Some(a), Some(b)) =>
            assert(math.abs(a - b) < 1e-4, s"std at $w: $a vs $b\n$layout")
          case (a, b) => assert(a == b, s"std at $w")
        }
        (g(m, "covered_fraction"), g(d, "covered_fraction")) match {
          case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9)
          case _ => ()
        }
      }
    }
  }

  test("limit-mode matrix: widened [t,t] returns the enclosing 0/1/2 samples") {
    for (layout <- layouts(6, seed = 21)) {
      val df = frame(layout)
      val tsSet = layout.map(_._1)
      // probe: below all, at a sample, between samples, above all
      val probes = Seq(tsSet.min - S, tsSet.head,
        tsSet.min + (tsSet.max - tsSet.min) / 2, tsSet.max + S)
      for (t <- probes) {
        val got = ArchiveReader.getSamples(df, t, AtOrWidened, t, AtOrWidened)
          .select("ts").collect().map(_.getLong(0)).sorted.toSeq
        val before = tsSet.filter(_ <= t).maxOption
        val after = tsSet.filter(_ >= t).minOption
        val expected = (before.toSeq ++ after.toSeq).distinct.sorted
        assert(got == expected, s"probe $t on $tsSet")
      }
    }
  }

  test("typed one-pass equals the declarative dispatch on random mixed-type layouts") {
    import graft.archive.TypedDecimation
    val tagGen = Gen.frequency(
      4 -> Gen.const("scalar_double"), 2 -> Gen.const("scalar_long"),
      1 -> Gen.const("scalar_enum"), 1 -> Gen.const("scalar_string"),
      1 -> Gen.const("aggregated_scalar_double"),
      1 -> Gen.const("disconnected"))
    val gen: Gen[List[(Long, String, Double)]] = for {
      n <- Gen.choose(3, 30)
      ts <- Gen.listOfN(n, Gen.choose(0L, 100L)).map(_.distinct.sorted)
      tags <- Gen.listOfN(ts.size, tagGen)
      vs <- Gen.listOfN(ts.size, Gen.choose(-50.0, 50.0))
    } yield ts.lazyZip(tags).lazyZip(vs).toList
    for (i <- 0 until 5; layout <- gen(Gen.Parameters.default, Seed(77 + i))) {
      val rows = layout.zipWithIndex.map { case ((t, tag, v), idx) =>
        val base = TRow("c", t * S, tag, sample_id = idx + 1L,
          severity = if (tag == "disconnected") None else Some((idx % 3)),
          status = if (tag == "disconnected") None else Some(idx % 5))
        tag match {
          case "scalar_double" | "scalar_long" => base.copy(value = Some(v))
          case "scalar_enum" => base.copy(enum_value = Some(idx % 3),
            labels = Some(Seq("A", "B")))
          case "scalar_string" => base.copy(str_value = Some(s"s$idx"))
          case "aggregated_scalar_double" => base.copy(agg_mean = Some(v),
            agg_std = Some(math.abs(v) / 10 + 0.01), agg_min = Some(v - 1),
            agg_max = Some(v + 1), agg_cov = Some(0.5 + (idx % 5) * 0.1))
          case _ => base
        }
      }
      val df = rows.toDF()
      def norm(d: DataFrame) = d
        .select("channel", "win_start", "vtype", "mean", "covered_fraction",
          "max_severity", "n_samples")
        .collect().map { r =>
          (r.getLong(1), r.getString(2),
            if (r.isNullAt(3)) Long.MinValue else math.round(r.getDouble(3) * 1e9),
            if (r.isNullAt(4)) Long.MinValue else math.round(r.getDouble(4) * 1e9),
            if (r.isNullAt(5)) -1 else r.getInt(5),
            r.getLong(6))
        }.toSet
      val declarative = norm(TypedDecimation.decimate(df, 10 * S))
      val onepass = norm(TypedDecimation.decimateSorted(df, 10 * S)
        .withColumnRenamed("first", "_f"))
      assert(declarative == onepass, s"$layout")
    }
  }

  test("connected components equal brute-force union-find on random graphs") {
    val graphGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(2, 30)
      m <- Gen.choose(1, 40)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1) if a != b
      } yield (a, b))
    } yield es
    val graphs = (0 until 6).flatMap(i =>
      graphGen.apply(Gen.Parameters.default, Seed(1234L + i)))
    for (edges <- graphs) {
      // brute-force union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // canonical label = min member id per component
      val expected = nodes.groupBy(find).flatMap { case (_, members) =>
        val label = members.min
        members.map(_ -> label)
      }.toMap
      val got = graft.pipeline.Dedup.connectedComponents(
          edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"edges=$edges")
    }
  }

  test("decimate and decimateSorted agree on random layouts") {
    for (layout <- layouts(6, seed = 42)) {
      val df = frame(layout)
      def norm(d: DataFrame) = d.select("channel", "win_start", "mean",
          "covered_fraction", "n_samples")
        .collect().map { r =>
          (r.getLong(1),
            if (r.isNullAt(2)) Long.MinValue else math.round(r.getDouble(2) * 1e9),
            math.round(r.getDouble(3) * 1e9), r.getLong(4))
        }.toSet
      assert(norm(Decimation.decimate(df, 10 * S)) ==
        norm(Decimation.decimateSorted(df, 10 * S)), s"$layout")
    }
  }

  test("leakage-safe split: no pair graph edge ever straddles a split boundary") {
    val graphGen: Gen[List[(Long, Long)]] = for {
      m <- Gen.choose(1, 30)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, 99L)
        b <- Gen.choose(0L, 99L) if a != b
      } yield (a, b))
    } yield es
    val graphs = (0 until 4).flatMap(i =>
      graphGen.apply(Gen.Parameters.default, Seed(777L + i)))
    val docs = (0L to 99L).map(i => (i, s"d$i", "en"))
      .toDF("doc_id", "text", "lang")
    for (edges <- graphs) {
      val split = graft.pipeline.Sampling.leakageSafeSplit(
          docs, edges.toDF("doc_a", "doc_b"),
          Seq(("train", 0.8), ("val", 0.9), ("test", 1.0)))
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      for ((a, b) <- edges)
        assert(split(a) == split(b),
          s"edge ($a,$b) straddles ${split(a)}/${split(b)}; edges=$edges")
    }
  }

  test("duplicateSpans equals a brute-force reference on random dup-heavy corpora") {
    val k = 3
    // tiny vocab → lots of genuine window collisions
    val docGen = for {
      n <- Gen.choose(0, 25)
      ws <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd"))
    } yield ws
    val corpusGen = Gen.listOfN(8, docGen)
    for (i <- 0 until 5;
         corpus <- corpusGen(Gen.Parameters.default, Seed(91 + i))) {
      // reference: count window values across the corpus, mark
      // positions whose window occurs >= 2 times, merge consecutive
      val wins = corpus.zipWithIndex.flatMap { case (ws, d) =>
        ws.sliding(k).zipWithIndex.collect {
          case (w, p) if w.length == k => (d.toLong, p.toLong, w.mkString(" "))
        }
      }
      val occ = wins.groupBy(_._3).view.mapValues(_.size).toMap
      val expected = wins.filter(w => occ(w._3) >= 2)
        .groupBy(_._1).flatMap { case (d, ps) =>
          val sorted = ps.map(_._2).sorted
          // island split
          val runs = sorted.foldLeft(List.empty[List[Long]]) {
            case (acc, p) if acc.nonEmpty && acc.head.head == p - 1 =>
              (p :: acc.head) :: acc.tail
            case (acc, p) => List(p) :: acc
          }
          runs.map(r => (d, r.min, r.max + k - 1, r.max + k - 1 - r.min + 1,
            r.size.toLong))
        }.toSet
      val docsDf = corpus.zipWithIndex
        .map { case (ws, d) => (d.toLong, ws.mkString(" "), "xx") }
        .toDF("doc_id", "text", "lang")
      val got = graft.pipeline.Dedup.duplicateSpans(docsDf, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(got == expected,
        s"seed ${91 + i}: got ${got.toList.sorted} vs ${expected.toList.sorted}")
    }
  }

  test("globalOrdinal == the single-window rank for random scores, any partition count") {
    val gen = for {
      n <- Gen.choose(1, 200)
      // coarse scores force heavy ties; ids are the unique tiebreak
      scores <- Gen.listOfN(n, Gen.choose(0, 5).map(_ / 5.0))
      parts <- Gen.choose(1, 9)
    } yield (scores, parts)
    for (i <- 0 until 6;
         (scores, parts) <- gen(Gen.Parameters.default, Seed(400 + i))) {
      val df = scores.zipWithIndex
        .map { case (s, id) => (id.toLong, s) }
        .toDF("doc_id", "quality_score")
      val got = graft.pipeline.Sampling.globalOrdinal(df, parts)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val want = scores.zipWithIndex
        .sortBy { case (s, id) => (-s, id) }.zipWithIndex
        .map { case ((_, id), pos) => id.toLong -> (pos + 1L) }.toMap
      assert(got == want, s"seed ${400 + i} parts=$parts")
    }
  }

  test("packSequential == the sequential prefix-sum walk for random docs") {
    val gen = for {
      n <- Gen.choose(1, 120)
      sizes <- Gen.listOfN(n, Gen.choose(1, 9))
      budget <- Gen.choose(5L, 40L)
      parts <- Gen.choose(1, 7)
    } yield (sizes, budget, parts)
    for (i <- 0 until 5;
         (sizes, budget, parts) <- gen(Gen.Parameters.default, Seed(500 + i))) {
      val df = sizes.zipWithIndex.map { case (k, id) =>
        (id.toLong, (1 to k).map(j => s"w$j").mkString(" "),
          s"s${id % 3}")
      }.toDF("doc_id", "text", "source")
      val out = graft.pipeline.Sampling
        .packSequential(df, budget, parts)
        .orderBy("train_ord").collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
      // reference: sequential walk in the emitted train_ord order
      var cum = 0L
      out.foreach { case (id, nTok, shard) =>
        assert(shard == cum / budget, s"seed ${500 + i} doc $id")
        cum += nTok
      }
      assert(out.map(_._2).sum == sizes.map(_.toLong).sum)
    }
  }

  test("derivedChannel == a sequential hold walk for random two-channel layouts") {
    val gen = for {
      na <- Gen.choose(1, 25)
      nb <- Gen.choose(1, 25)
      tsA <- Gen.listOfN(na, Gen.choose(0L, 100L)).map(_.distinct.sorted)
      tsB <- Gen.listOfN(nb, Gen.choose(0L, 100L)).map(_.distinct.sorted)
      vsA <- Gen.listOfN(tsA.size, Gen.choose(-50.0, 50.0))
      vsB <- Gen.listOfN(tsB.size, Gen.choose(-50.0, 50.0))
      step <- Gen.oneOf(5L, 10L, 20L)
      opIdx <- Gen.choose(0, 2) // div excluded: a random zero divisor
    } yield (tsA.zip(vsA), tsB.zip(vsB), step, opIdx)
    val ops: Seq[(String, (Double, Double) => Double)] =
      Seq("add" -> (_ + _), "sub" -> (_ - _), "mul" -> (_ * _))
    for (i <- 0 until 6;
         (a, b, stepS, opIdx) <- gen(Gen.Parameters.default, Seed(900 + i))) {
      val step = stepS * S
      val (opName, f) = ops(opIdx)
      val df = (a.map { case (t, v) => ("A", t * S, v) } ++
        b.map { case (t, v) => ("B", t * S, v) }).zipWithIndex
        .map { case ((c, t, v), j) => (c, t, v, "", 0, 0, j.toLong) }
        .toDF("channel", "ts", "value", "str_value", "severity",
          "status", "sample_id")
      val lo = 0L; val hi = 100L * S
      val colF: (org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
        opName match {
          case "add" => _ + _
          case "sub" => _ - _
          case _ => _ * _
        }
      val got = graft.archive.Analytics
        .derivedChannel(df, "calc", "A", "B", colF, lo, hi, step)
        .orderBy("ts").collect()
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      // sequential reference: plain-Scala hold walk over the grid
      def hold(src: Seq[(Long, Double)], g: Long): Option[Double] =
        src.filter(_._1 * S <= g).lastOption.map(_._2)
      val expected = (lo to hi by step).flatMap { g =>
        for (x <- hold(a, g); y <- hold(b, g)) yield (g, f(x, y))
      }
      assert(got == expected, s"seed ${900 + i} op $opName step $stepS")
    }
  }

  test("CUSUM closed form == the textbook recursion; chunked == plain on random layouts") {
    import graft.archive.Analytics
    val hi = 121L * S
    for ((layout, i) <- layouts(6, seed = 1700L).zipWithIndex) {
      val df = frame(layout)
      val slack = 5.0; val threshold = 40.0
      val plain = Analytics.cusumShifts(df, 0L, hi, slack, threshold)
        .collect().toSeq
      // textbook recursion in plain Scala over the SAME 6dp grid:
      // s_i = max(0, s_{i-1} + dev_i), two-sided, target = grid mean
      val qs = layout.collect { case (t, Some(v)) if !v.isNaN =>
        (t, java.math.BigDecimal.valueOf(v * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue) }
      if (qs.nonEmpty) {
        // Spark's round(double): BigDecimal HALF_UP on the canonical
        // string — math.round would drift on negative half values
        val mq = java.math.BigDecimal.valueOf(
            qs.map(_._2).map(BigDecimal(_)).sum.toDouble / qs.size)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue
        val sq = math.round(slack * 1e6); val hq = math.round(threshold * 1e6)
        var sHi = BigInt(0); var sLo = BigInt(0)
        var nHi = 0L; var nLo = 0L
        var tHi = Option.empty[Long]; var tLo = Option.empty[Long]
        var pkHi = BigInt(0); var pkLo = BigInt(0)
        qs.foreach { case (t, q) =>
          sHi = (sHi + (q - mq - sq)).max(0)
          sLo = (sLo - (q - mq + sq)).max(0)
          if (sHi > hq) { nHi += 1; if (tHi.isEmpty) tHi = Some(t) }
          if (sLo > hq) { nLo += 1; if (tLo.isEmpty) tLo = Some(t) }
          pkHi = pkHi.max(sHi); pkLo = pkLo.max(sLo)
        }
        val r = plain.head
        assert(r.getLong(1) == qs.size, s"seed ${1700 + i} n")
        assert(r.getLong(2) == nHi && r.getLong(3) == nLo,
          s"seed ${1700 + i} flags: ${r.getLong(2)}/${r.getLong(3)} vs $nHi/$nLo")
        val gotTHi = if (r.isNullAt(4)) None else Some(r.getLong(4))
        assert(gotTHi == tHi, s"seed ${1700 + i} tHi")
        assert(r.getDouble(6) == pkHi.toDouble / 1e6 &&
          r.getDouble(7) == pkLo.toDouble / 1e6, s"seed ${1700 + i} peaks")
      }
    }
  }
}
