package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.codec.Codecs
import graft.ext.Dedup

/** Property-based checks (ScalaCheck driven, evaluated vectorized —
  * each sampled case is a whole DataFrame, so one Spark job checks
  * hundreds of generated rows at once). These pin the ALGEBRAIC
  * contracts the oracle can't see: round-trips, preservation laws,
  * monotonicity, and the pigeonhole recall guarantee on random inputs
  * rather than picked fixtures. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(8)
  private def check(p: Prop, name: String): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, s"$name: ${r.status}")
  }

  private val hex16: Gen[String] = Gen.listOfN(16, Gen.hexChar).map(_.mkString.toLowerCase)

  test("b3 render/parse round-trips arbitrary trace contexts") {
    val rows = Gen.nonEmptyListOf(for {
      t <- hex16; s <- hex16; f <- Gen.oneOf(true, false)
    } yield (t, s, f))
    check(Prop.forAll(rows) { cases =>
      val df = cases.toDF("t", "s", "f")
        .withColumn("b3", Codecs.b3Render(col("t"), col("s"), col("f")))
      df.filter(
        Codecs.b3TraceId(col("b3")) =!= col("t") ||
        Codecs.b3SpanId(col("b3")) =!= col("s") ||
        Codecs.b3Sampled(col("b3")) =!= col("f")).count() == 0L
    }, "b3 roundtrip")
  }

  test("headerSet then headerLast returns the set value; other keys survive in order") {
    val keyGen = Gen.oneOf("b3", "messageid", "x-custom", "retry")
    val hdrGen = Gen.listOf(for { k <- keyGen; v <- Gen.alphaNumStr } yield (k, v))
    val caseGen = for { hs <- hdrGen; k <- keyGen; v <- Gen.alphaNumStr } yield (hs, k, v)
    check(Prop.forAll(caseGen) { case (hs, k, v) =>
      // Kafka headers are ARRAY<STRUCT<key,value>>; tuples toDF yield
      // _1/_2, so rebuild the structs under the codec's field names
      val df = Seq((hs, v)).toDF("h0", "v")
        .select(transform(col("h0"), h =>
          struct(h.getField("_1").as("key"), h.getField("_2").as("value"))).as("headers"),
          col("v"))
        .select(Codecs.headerSet(col("headers"), k -> col("v")).as("out"))
      val out = df.select(explode(col("out")).as("h"))
        .select(col("h.key"), col("h.value")).as[(String, String)].collect().toSeq
      val last = df.select(Codecs.headerLast(col("out"), k).as("lv")).as[String].head()
      // last-wins lookup finds the set value...
      last == v &&
      // ...every other key keeps its values and relative order...
      out.filter(_._1 != k) == hs.filter(_._1 != k) &&
      // ...and the set key lands exactly once, at the tail
      out.count(_._1 == k) == 1 && out.lastOption.contains((k, v))
    }, "header algebra")
  }

  test("shingle count law: max(0, n_tokens - n + 1), every shingle n tokens wide") {
    val rows = Gen.nonEmptyListOf(Gen.listOf(Gen.identifier.map(_.take(6))))
    val nGen = Gen.choose(2, 5)
    check(Prop.forAll(rows, nGen) { (tokLists, n) =>
      val df = tokLists.map(_.mkString(" ")).toDF("text")
        .withColumn("tk", Codecs.tokens(col("text")))
        .withColumn("sh", Codecs.shingles(col("tk"), n))
      df.filter(
        size(col("sh")) =!= greatest(lit(0), size(col("tk")) - (n - 1)) ||
        exists(col("sh"), s => size(split(s, " ")) =!= n)).count() == 0L
    }, "shingle law")
  }

  test("hash-split sampling is monotone in pct (pct1 <= pct2 => subset)") {
    val rows = Gen.nonEmptyListOf(for {
      lang <- Gen.oneOf("en", "es", "de", "zh"); id <- Gen.choose(0L, 100000L)
    } yield (lang, id))
    val pcts = for { a <- Gen.choose(0, 100); b <- Gen.choose(0, 100) } yield
      (math.min(a, b), math.max(a, b))
    check(Prop.forAll(rows, pcts) { case (cases, (lo, hi)) =>
      val df = cases.toDF("lang", "doc_id")
        .withColumn("in_lo", graft.ext.TextOps.hashSample(col("lang"), col("doc_id"), lo))
        .withColumn("in_hi", graft.ext.TextOps.hashSample(col("lang"), col("doc_id"), hi))
      df.filter(col("in_lo") && !col("in_hi")).count() == 0L
    }, "sampling monotone")
  }

  test("winnowing matches an independent in-memory reference on random documents") {
    // JVM mirror of the distributed pipeline (tokenize → 3-gram →
    // portable hash → rightmost-min per 4-window → distinct): a
    // per-document sequential algorithm, no Spark — so agreement pins
    // the posexplode+aggregation formulation against an independent
    // implementation of the winnowing definition itself
    def ph(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(7).map("%02x".format(_)).mkString, 16)
    }
    def reference(text: String, n: Int, w: Int): Set[(Long, Long)] = {
      val tk = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val hs = tk.sliding(n).filter(_.length == n).map(g => ph(g.mkString(" "))).toArray
      if (hs.length < w) Set.empty
      else (0 to hs.length - w).flatMap { i0 =>
        val win = hs.slice(i0, i0 + w)
        val minv = win.min
        val j = win.lastIndexOf(minv) // rightmost minimal hash
        Some(((i0 + j + 1).toLong, minv))
      }.toSet
    }
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val docGen = Gen.chooseNum(0, 24).flatMap(len => Gen.listOfN(len, word).map(_.mkString(" ")))
    val corpus = Gen.nonEmptyListOf(docGen).map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    check(Prop.forAll(corpus) { docs =>
      val got = graft.ext.TextOps.winnow(docs.toDF("doc_id", "text"), 3, 4)
        .as[(Long, Long, Long)].collect()
        .groupBy(_._1).map { case (d, rows) => d -> rows.map(r => (r._2, r._3)).toSet }
      val want = docs.map { case (d, t) => d -> reference(t, 3, 4) }
        .filter(_._2.nonEmpty).toMap
      got == want
    }, "winnow vs reference")
  }

  test("cross-doc substring dedup matches an independent in-memory reference on random documents") {
    // JVM mirror of the definition (NOT of the bucketed-window
    // algorithm): per position, the best cross-doc common-prefix
    // length over ALL other docs' positions, both suffixes capped at
    // maxLcp — agreement pins the suffix-ordering/run-boundary
    // formulation (nearest-other-doc-neighbor LCP) against the
    // brute-force semantics it claims to compute
    def reference(docs: Seq[(Long, String)], n: Int,
        maxLcp: Int): Map[Long, (Long, Long, String)] = {
      val toks = docs.map { case (d, t) =>
        d -> t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }
      val sufs = for {
        (d, tk) <- toks
        p <- 0 to tk.length - n
      } yield (d, tk.slice(p, math.min(p + maxLcp, tk.length)))
      def lcp(a: Seq[String], b: Seq[String]): Long =
        a.zip(b).takeWhile { case (x, y) => x == y }.size.toLong
      val best = sufs.map { case (d, s) =>
        val others = sufs.filter(_._1 != d)
        val m = if (others.isEmpty) 0L else others.map(o => lcp(s, o._2)).max
        (d, m, s)
      }.filter(_._2 >= n)
      best.groupBy(_._1).map { case (d, rows) =>
        val maxLen = rows.map(_._2).max
        val sub = rows.filter(_._2 == maxLen)
          .map(r => r._3.take(maxLen.toInt).mkString(" ")).max
        d -> (rows.size.toLong, maxLen, sub)
      }
    }
    // 4-word alphabet: dense 3-gram collisions across docs
    val word = Gen.oneOf("a", "b", "c", "d")
    val docGen = Gen.chooseNum(0, 20).flatMap(len => Gen.listOfN(len, word).map(_.mkString(" ")))
    val corpus = Gen.chooseNum(2, 8).flatMap(k => Gen.listOfN(k, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    check(Prop.forAll(corpus) { docs =>
      val got = Dedup.crossDocSubstrings(docs.toDF("doc_id", "text"), 3, 5)
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      got == reference(docs, 3, 5)
    }, "cross-doc substrings vs reference")
  }

  test("char-level cross-doc substring dedup matches an in-memory reference on random strings") {
    // string mirror of the definition: per char position, the best
    // cross-doc common-prefix length over ALL other docs' positions,
    // both suffixes capped at maxLcp chars — pins the char-unit
    // suffix-ordering formulation against brute force, including
    // matches that cross token boundaries (spaces are chars here)
    def reference(docs: Seq[(Long, String)], n: Int,
        maxLcp: Int): Map[Long, (Long, Long, String)] = {
      val txts = docs.map { case (d, t) => d -> t.trim.toLowerCase }
      val sufs = for {
        (d, s) <- txts
        p <- 0 to s.length - n
      } yield (d, s.substring(p, math.min(p + maxLcp, s.length)))
      def lcp(a: String, b: String): Long =
        a.zip(b).takeWhile { case (x, y) => x == y }.size.toLong
      val best = sufs.map { case (d, s) =>
        val others = sufs.filter(_._1 != d)
        val m = if (others.isEmpty) 0L else others.map(o => lcp(s, o._2)).max
        (d, m, s)
      }.filter(_._2 >= n)
      best.groupBy(_._1).map { case (d, rows) =>
        val maxLen = rows.map(_._2).max
        val sub = rows.filter(_._2 == maxLen).map(r => r._3.take(maxLen.toInt)).max
        d -> (rows.size.toLong, maxLen, sub)
      }
    }
    // 3-char alphabet + space: dense collisions and cross-word runs
    val ch = Gen.oneOf('a', 'b', 'c', ' ')
    val docGen = Gen.chooseNum(0, 25).flatMap(len => Gen.listOfN(len, ch).map(_.mkString))
    val corpus = Gen.chooseNum(2, 8).flatMap(k => Gen.listOfN(k, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    check(Prop.forAll(corpus) { docs =>
      val got = Dedup.crossDocSubstringsChar(docs.toDF("doc_id", "text"), 3, 6)
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      got == reference(docs, 3, 6)
    }, "char-level cross-doc substrings vs reference")
  }

  test("pigeonhole banding finds every pair the exhaustive form finds, on random fingerprints") {
    val rows = Gen.nonEmptyListOf(Gen.choose(0L, (1L << 32) - 1))
      .map(_.zipWithIndex.map { case (fp, i) => (i.toLong, fp) })
    check(Prop.forAll(rows) { cases =>
      val fps = cases.toDF("doc_id", "simhash")
      val banded = Dedup.simhashPairs(fps, 3)
        .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
      val exact = Dedup.simhashPairsExhaustive(fps, 3)
        .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
      banded == exact
    }, "pigeonhole recall")
  }

  test("capped banding is a subset of the uncapped join; an unexceeded cap is exact") {
    val rows = Gen.nonEmptyListOf(Gen.choose(0L, (1L << 32) - 1))
      .map(_.zipWithIndex.map { case (fp, i) => (i.toLong, fp) })
    val caps = Gen.choose(2L, 8L)
    check(Prop.forAll(rows, caps) { (cases, cap) =>
      val fps = cases.toDF("doc_id", "simhash")
      val uncapped = Dedup.simhashPairs(fps, 3)
        .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
      val capped = Dedup.simhashPairsCapped(fps, 3, 32, cap)
        .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
      val loose = Dedup.simhashPairsCapped(fps, 3, 32,
          math.max(cases.length.toLong, 2L))
        .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
      capped.subsetOf(uncapped) && loose == uncapped
    }, "capped banding containment")
  }

  test("Misra-Gries retention and error bounds hold on random streams and splits") {
    import graft.functions.MisraGries.MGAgg
    // random skewed streams (small alphabet so some item is heavy),
    // random capacity, random split point for the merge path — the
    // paper's guarantee must hold for EVERY arrival order and merge
    // tree: every item with freq > n/(m+1) retained, every retained
    // count an underestimate by at most n/(m+1)
    val streamGen = for {
      n <- Gen.choose(1, 400)
      s <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h"))
      m <- Gen.choose(1, 6)
      cut <- Gen.choose(0, n)
    } yield (s, m, cut)
    check(Prop.forAll(streamGen) { case (stream, m, cut) =>
      val agg = new MGAgg(m)
      val (l, r) = stream.splitAt(cut)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = stream.size.toLong
      // integer forms: freq > n/(m+1) iff freq·(m+1) > n; error ≤
      // n/(m+1) iff error·(m+1) ≤ n
      merged.n == n &&
        merged.items.size <= m &&
        exact.forall { case (k, c) =>
          (c * (m + 1) <= n) || merged.items.contains(k) } &&
        merged.items.forall { case (k, est) =>
          est <= exact(k) && (exact(k) - est) * (m + 1) <= n }
    }, "misra-gries bounds")
  }

  test("chunk dedup apply equals the in-memory keep-first reference on random corpora") {
    // tiny vocab forces genuine cross-doc chunk collisions
    val vocab = Vector("aa", "bb", "cc", "dd")
    val corpusGen = Gen.listOfN(6,
      Gen.choose(0, 11).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))))
    val cn = 3
    check(Prop.forAll(corpusGen) { toks =>
      val docs = toks.zipWithIndex
        .map { case (tk, i) => (i.toLong, tk.mkString(" ")) }
      val got = Dedup.chunkDedupApply(docs.toDF("doc_id", "text"), cn)
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      // reference: global keep-first over (doc_id, chunk_id) order,
      // keyed by the chunk text itself (the 56-bit hash cannot
      // meaningfully collide on these inputs)
      val seen = scala.collection.mutable.Set.empty[String]
      val expect = docs.filter(_._2.nonEmpty).map { case (id, text) =>
        val chunks = text.split(" ").grouped(cn).map(_.mkString(" ")).toSeq
        val kept = chunks.filter(c => if (seen.contains(c)) false else { seen += c; true })
        id -> ((kept.size.toLong, (chunks.size - kept.size).toLong, kept.mkString(" ")))
      }.toMap
      got == expect
    }, "chunk dedup keep-first")
  }

  test("pageRank equals the exact integer replica on random symmetric graphs") {
    val graphGen = for {
      n <- Gen.choose(3, 10)
      pairs <- Gen.someOf(for { a <- 0 until n; b <- a + 1 until n } yield (a, b))
      if pairs.nonEmpty
      ws <- Gen.listOfN(pairs.size, Gen.choose(1L, 3L))
      iters <- Gen.choose(1, 4)
      nSeeds <- Gen.choose(1, n)
    } yield (pairs.toList.zip(ws), iters, (0 until nSeeds).map(i => s"v$i").toSet)
    def replica(edges: Seq[(String, String, Long)], iters: Int,
        seeds: Option[Set[String]]): Map[String, Long] = {
      val wout = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
      val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct
      def isSeed(v: String) = seeds.forall(_.contains(v))
      var p = verts.map(v => v -> (if (isSeed(v)) 1000000L else 0L)).toMap
      for (_ <- 1 to iters) {
        val c = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        edges.foreach { case (s, d, w) => c(d) += (p(s) * w) / wout(s) }
        p = verts.map(v => v ->
          ((if (isSeed(v)) 150000L else 0L) + (85L * c(v)) / 100L)).toMap
      }
      p
    }
    check(Prop.forAll(graphGen) { case (pw, iters, seeds) =>
      val edges = pw.flatMap { case ((a, b), w) =>
        Seq((s"v$a", s"v$b", w), (s"v$b", s"v$a", w)) }
      val df = edges.toDF("src", "dst", "w")
      val uniform = graft.ops.Graph.pageRankFixed(df, iters)
        .as[(String, Long)].collect().toMap
      val seeded = graft.ops.Graph.pageRankFixed(df, iters,
          seeds = Some(seeds.toSeq.toDF("node")))
        .as[(String, Long)].collect().toMap
      uniform == replica(edges, iters, None) &&
        seeded == replica(edges, iters, Some(seeds))
    }, "pagerank replica")
  }

  test("kCorePeel equals the synchronous peel replica on random symmetric graphs") {
    val graphGen = for {
      n <- Gen.choose(3, 10)
      pairs <- Gen.someOf(for { a <- 0 until n; b <- a + 1 until n } yield (a, b))
      if pairs.nonEmpty
      k <- Gen.choose(1, 4)
      rounds <- Gen.choose(1, 4)
    } yield (pairs.toList, k, rounds)
    def replica(pairs: Seq[(Int, Int)], k: Int, rounds: Int): Map[String, (Long, Long)] = {
      val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (v, es) => s"v$v" -> es.map(e => s"v${e._2}").toSet }
      var alive = adj.keySet
      val peeled = scala.collection.mutable.Map.empty[String, Long]
      for (t <- 1 to rounds) {
        // SYNCHRONOUS round: every sub-k vertex measured against the
        // round's INCOMING alive set is removed together
        val dead = alive.filter(v => adj(v).count(alive.contains) < k)
        alive = alive -- dead
        dead.foreach(peeled(_) = t.toLong)
      }
      adj.keySet.map(v =>
        v -> ((if (alive(v)) 1L else 0L, peeled.getOrElse(v, 0L)))).toMap
    }
    check(Prop.forAll(graphGen) { case (pairs, k, rounds) =>
      val edges = pairs.flatMap { case (a, b) =>
        Seq((s"v$a", s"v$b", 1L), (s"v$b", s"v$a", 1L)) }
      val got = graft.ops.Graph.kCorePeel(edges.toDF("src", "dst", "w"), k, rounds)
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      got == replica(pairs, k, rounds)
    }, "kcore peel replica")
  }

  test("bfsHops equals the BFS replica (bounded depth, NULL = unreached) on random graphs") {
    val graphGen = for {
      n <- Gen.choose(3, 10)
      pairs <- Gen.someOf(for { a <- 0 until n; b <- a + 1 until n } yield (a, b))
      if pairs.nonEmpty
      nSeeds <- Gen.choose(1, 3)
      depth <- Gen.choose(1, 4)
    } yield (pairs.toList, (0 until nSeeds).map(i => s"v$i").toSet, depth)
    def replica(pairs: Seq[(Int, Int)], seeds: Set[String],
        depth: Int): Map[String, Option[Long]] = {
      val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (v, es) => s"v$v" -> es.map(e => s"v${e._2}") }
      val verts = adj.keySet
      var dist = verts.map(v =>
        v -> (if (seeds.contains(v)) Some(0L) else Option.empty[Long])).toMap
      for (_ <- 1 to depth) {
        dist = verts.map { v =>
          val in = (adj(v).flatMap(dist(_)).map(_ + 1) ++ dist(v)).toSeq
          v -> (if (in.isEmpty) None else Some(in.min))
        }.toMap
      }
      dist
    }
    check(Prop.forAll(graphGen) { case (pairs, seeds, depth) =>
      val edges = pairs.flatMap { case (a, b) =>
        Seq((s"v$a", s"v$b", 1L), (s"v$b", s"v$a", 1L)) }
      // seeds may name vertices absent from the edge list (isolated
      // in the sampled graph) — the operator only ranks graph vertices
      val got = graft.ops.Graph.bfsHops(edges.toDF("src", "dst", "w"),
          seeds.toSeq.toDF("node"), depth)
        .as[(String, Option[Long])].collect().toMap
      got == replica(pairs, seeds, depth)
    }, "bfs replica")
  }

  test("minPlus equals the bounded Bellman-Ford replica on random weighted graphs") {
    val graphGen = for {
      n <- Gen.choose(3, 10)
      pairs <- Gen.someOf(for { a <- 0 until n; b <- a + 1 until n } yield (a, b))
      if pairs.nonEmpty
      ws <- Gen.listOfN(pairs.size, Gen.choose(1L, 9L))
      nSeeds <- Gen.choose(1, 3)
      rounds <- Gen.choose(1, 4)
    } yield (pairs.toList.zip(ws), (0 until nSeeds).map(i => s"v$i").toSet, rounds)
    def replica(edges: Seq[(String, String, Long)], seeds: Set[String],
        rounds: Int): Map[String, Option[Long]] = {
      val in = edges.groupBy(_._2)
      val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct
      var cost = verts.map(v =>
        v -> (if (seeds.contains(v)) Some(0L) else Option.empty[Long])).toMap
      for (_ <- 1 to rounds) {
        cost = verts.map { v =>
          val relax = (in.getOrElse(v, Nil).flatMap { case (s, _, c) =>
            cost(s).map(_ + c) } ++ cost(v)).toSeq
          v -> (if (relax.isEmpty) None else Some(relax.min))
        }.toMap
      }
      cost
    }
    check(Prop.forAll(graphGen) { case (pw, seeds, rounds) =>
      val edges = pw.flatMap { case ((a, b), w) =>
        Seq((s"v$a", s"v$b", w), (s"v$b", s"v$a", w)) }
      val got = graft.ops.Graph.minPlus(
          edges.toDF("src", "dst", "cost"), seeds.toSeq.toDF("node"), rounds)
        .as[(String, Option[Long])].collect().toMap
      got == replica(edges, seeds, rounds)
    }, "min-plus replica")
  }

  test("commonNeighborPairs equals the set-intersection replica under the df cap") {
    val graphGen = for {
      nu <- Gen.choose(3, 8)
      nv <- Gen.choose(2, 6)
      inc <- Gen.someOf(for { u <- 0 until nu; v <- 0 until nv } yield (u.toLong, v.toLong))
      if inc.nonEmpty
      maxDf <- Gen.choose(2, 6)
      minCommon <- Gen.choose(1, 3)
    } yield (inc.toList, maxDf, minCommon)
    check(Prop.forAll(graphGen) { case (inc, maxDf, minCommon) =>
      val nbr = inc.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
      val df = inc.groupBy(_._2).map { case (v, es) => v -> es.map(_._1).size }
      val keptV = df.filter { case (_, d) => d >= 2 && d <= maxDf }.keySet
      val us = nbr.keys.toSeq.sorted
      val expect = (for {
        a <- us; b <- us if a < b
        nc = (nbr(a) & nbr(b) & keptV).size.toLong if nc >= minCommon
        j = nc * 10000L / (nbr(a).size + nbr(b).size - nc)
      } yield (a, b) -> ((nc, j))).toMap
      val got = graft.ops.Graph.commonNeighborPairs(
          inc.toDF("u", "v"), maxDf.toLong, minCommon.toLong)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      got == expect
    }, "common neighbors replica")
  }

  test("triangle count equals the brute-force triple loop on random graphs") {
    val graphGen = for {
      n <- Gen.choose(3, 9)
      pairs <- Gen.someOf(for { a <- 0 until n; b <- a + 1 until n } yield (a.toLong, b.toLong))
      if pairs.nonEmpty
    } yield pairs.toList
    check(Prop.forAll(graphGen) { pairs =>
      val got = graft.ops.Graph.triangleCount(pairs.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].head()
      val es = pairs.toSet
      def edge(a: Long, b: Long) = es.contains((math.min(a, b), math.max(a, b)))
      val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      val brute = (for {
        a <- verts; b <- verts if a < b; c <- verts if b < c
        if edge(a, b) && edge(b, c) && edge(a, c)
      } yield 1).size.toLong
      got == ((pairs.size.toLong, brute))
    }, "triangle brute force")
  }

  test("interval overlap equals the all-pairs replica on random bounded intervals") {
    val ivGen = for {
      s <- Gen.choose(0L, 500L)
      len <- Gen.choose(0L, 80L)
    } yield (s, s + len)
    val caseGen = for {
      ls <- Gen.nonEmptyListOf(ivGen).map(_.take(12))
      rs <- Gen.nonEmptyListOf(ivGen).map(_.take(12))
      w <- Gen.oneOf(1L, 13L, 100L)
    } yield (ls, rs, w)
    check(Prop.forAll(caseGen) { case (ls, rs, w) =>
      val l = ls.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("lid", "ls", "le")
      val r = rs.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("rid", "rs", "re")
      val got = graft.ops.IntervalJoin.overlap(l, "ls", "le", r, "rs", "re", w)
        .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
      val brute = (for {
        ((s1, e1), i) <- ls.zipWithIndex
        ((s2, e2), j) <- rs.zipWithIndex
        if s1 <= e2 && s2 <= e1
      } yield (i.toLong, j.toLong)).sorted
      got == brute
    }, "interval overlap brute force")
  }
}
