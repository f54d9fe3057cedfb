package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck properties (SURVEY.md §5): semantic invariants over
  * GENERATED inputs — null/blank/garbage cases the harness parquet never
  * contains. Spark jobs are expensive, so each property runs a reduced
  * number of generated cases with batched evaluation (whole generated
  * dataset in one DataFrame per case).
  */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  // --- P2: string-timestamp sentinel conform -----------------------------
  private val rawTsGen: Gen[String] = Gen.oneOf(
    Gen.const(null: String), Gen.const(""), Gen.const("   "),
    Gen.const("not a date"),
    Gen.choose(0L, 4102444800L).map(s => new Timestamp(s * 1000L).toString),
    Gen.choose(0L, 4102444800L)
      .map(s => "  " + new Timestamp(s * 1000L).toString + " "))

  property("sentinel conform: null/blank -> sentinel, never blank output") =
    Prop.forAll(Gen.listOfN(20, rawTsGen)) { raws =>
      val df = raws.toDF("raw").select(
        col("raw"),
        ops.Relational.sentinelTs(col("raw"), "1900-01-01 00:00:00")
          .as("ts"))
      val rows = df.collect()
      rows.forall { r =>
        val raw = r.getString(0)
        val ts = r.getTimestamp(1)
        if (raw == null || raw.trim.isEmpty)
          ts == Timestamp.valueOf("1900-01-01 00:00:00")
        else if (raw.trim == "not a date") ts == null // MariaDB CAST semantics
        else ts == Timestamp.valueOf(raw.trim)
      }
    }

  // --- F8/F11: date-part consistency --------------------------------------
  property("date parts: isodow vs dayofweek vs names agree") =
    Prop.forAll(Gen.listOfN(20, Gen.choose(0L, 4102444800L))) { secs =>
      val df = secs.map(s => new Timestamp(s * 1000L)).toDF("ts").select(
        (weekday(col("ts")) + 1).as("isodow"),
        dayofweek(col("ts")).as("dow"),
        date_format(col("ts"), "EEEE").as("day_name"))
      df.collect().forall { r =>
        val iso = r.getInt(0); val dow = r.getInt(1)
        val expectIso = if (dow == 1) 7 else dow - 1 // 1=Sun → ISO 7
        iso == expectIso &&
          (iso != 6 || r.getString(2) == "Saturday") &&
          (iso != 7 || r.getString(2) == "Sunday")
      }
    }

  // --- RollingHash: codegen matches the byte-fold model -------------------
  property("rolling hash equals reference fold for arbitrary strings") =
    Prop.forAll(Gen.listOfN(15, Gen.asciiPrintableStr)) { strs =>
      val got = strs.toDF("s")
        .select(col("s"), sources.Warehouse.rollingHash(col("s")).as("h"))
        .collect()
      got.forall { r =>
        val bytes = r.getString(0).getBytes("UTF-8")
        r.getLong(1) == bytes.foldLeft(0L)((a, b) =>
          (a * 31 + (b & 0xff)) % 1000000007L)
      }
    }

  // --- FastMd5: bit-identical to functions.md5 ----------------------------
  private val anyStrGen: Gen[String] = Gen.oneOf(
    Gen.const(""), Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf("é", "中", "🙂", "a", " "))
      .map(_.mkString))

  property("fast_md5 equals functions.md5 on arbitrary unicode strings") =
    Prop.forAll(Gen.listOfN(15, anyStrGen)) { strs =>
      strs.toDF("s")
        .select(functions.TextFns.fastMd5(col("s")).as("fast"),
          md5(col("s").cast("binary")).as("ref"))
        .collect()
        .forall(r => r.getString(0) == r.getString(1))
    }

  // --- DotProduct: codegen matches a plain-Scala left fold ----------------
  private val vecGen: Gen[List[Float]] =
    Gen.listOfN(8, Gen.choose(-100f, 100f))

  property("dot_product equals scala left-fold on generated float arrays") =
    Prop.forAll(Gen.listOfN(10, Gen.zip(vecGen, vecGen))) { pairs =>
      pairs.toDF("a", "b")
        .select(col("a"), col("b"),
          functions.TextFns.dotProduct(col("a"), col("b")).as("dp"))
        .collect()
        .forall { r =>
          val a = r.getSeq[Float](0); val b = r.getSeq[Float](1)
          val expect = a.zip(b)
            .foldLeft(0d)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
          r.getDouble(2) == expect
        }
    }

  // --- dedup: regex trigram extraction equals the array-lambda shingles ---
  private val wordGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val textGen: Gen[String] = for {
    words <- Gen.listOf(wordGen)
    sep <- Gen.oneOf(" ", "  ", "\t", " \n ")
  } yield words.mkString(sep)

  property("regex trigram shingles equal transform/slice shingles as sets") =
    Prop.forAll(Gen.listOfN(12, textGen)) { texts =>
      texts.toDF("text")
        .select(
          array_sort(array_distinct(concat(
            functions.TextFns.overlappingTrigrams(col("text")),
            when(size(functions.TextFns.tokens(col("text"))) < 3,
              array(concat_ws(" ", functions.TextFns.tokens(col("text")))))
              .otherwise(array())))).as("regex"),
          array_sort(functions.TextFns.shingles3(col("text"))).as("lambda"))
        .collect()
        .forall(r => r.getSeq[String](0) == r.getSeq[String](1))
    }

  // --- J6/M5: junk-dim bijectivity under generated nulls -------------------
  private val tripleGen: Gen[(String, Option[String], Option[String])] =
    for {
      src <- Gen.oneOf("lab", "omr", "diagnosis")
      unit <- Gen.option(Gen.oneOf("mg", "ml", "qty"))
      care <- Gen.option(Gen.oneOf("0", "1", "2"))
    } yield (src, unit, care)

  property("junk dim: every row maps to exactly one junk_id incl. nulls") =
    Prop.forAll(Gen.listOfN(30, tripleGen)) { triples =>
      val f = triples.toDF("source_type", "measurement_unit", "careunit")
        .withColumn("event_key", monotonically_increasing_id())
      val junk = etl.Stage.dimJunkFrom(f)
      val joined = f.join(junk,
        f("source_type") <=> junk("j_source_type") &&
          f("measurement_unit") <=> junk("j_unit") &&
          f("careunit") <=> junk("j_careunit"), "left")
      joined.count() == triples.size &&
        joined.filter(col("junk_id").isNull).count() == 0
    }

  // --- as-of join vs model on generated events -----------------------------
  private val evGen: Gen[(Long, Long, Long)] = for {
    user <- Gen.choose(0L, 4L)
    id <- Gen.choose(0L, 1000000L)
    ts <- Gen.choose(0L, 100000L)
  } yield (user, id, ts)

  property("as-of join matches scala model on generated events") =
    Prop.forAll(Gen.listOfN(25, evGen), Gen.listOfN(8, evGen)) { (ls, rs) =>
      val left = ls.toDF("user_id", "event_id", "t")
        .withColumn("ts", timestamp_micros(col("t"))).drop("t")
      val right = rs.distinct.toDF("s_user", "s_id", "t")
        .withColumn("s_ts", timestamp_micros(col("t"))).drop("t")
      val got = plans.AsOf
        .join(left, right, "user_id", "s_user", "ts", "s_ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tus"), col("s_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      // model: for each left event, right row with max s_ts <= ts
      val rModel = rs.distinct.groupBy(_._1)
      val model = ls.map { case (u, id, t) =>
        val cands = rModel.getOrElse(u, Nil).filter(_._3 <= t)
        val best =
          if (cands.isEmpty) -1L
          else {
            val mx = cands.map(_._3).max
            cands.filter(_._3 == mx).map(_._2).max
          }
        (id, u, t, best)
      }.toSet
      // ties on (user, s_ts) make the picked s_id implementation-defined;
      // compare ignoring those groups
      val tieUsers = rs.distinct.groupBy(e => (e._1, e._3))
        .filter(_._2.size > 1).keySet.map(_._1)
      val gotF = got.filterNot(e => tieUsers.contains(e._2))
      val modelF = model.filterNot(e => tieUsers.contains(e._2))
      gotF == modelF
    }

  property("earliest-in-window as-of matches scala model, ties included") =
    Prop.forAll(Gen.listOfN(25, evGen), Gen.listOfN(8, evGen)) { (ls, rs) =>
      val W = 40000L // window length in micros, ~half the ts range
      val left = ls.toDF("user_id", "event_id", "t")
        .withColumn("ts", timestamp_micros(col("t"))).drop("t")
      val right = rs.distinct.toDF("w_user", "w_id", "t")
        .withColumn("intime", timestamp_micros(col("t"))).drop("t")
      val got = plans.AsOf
        .joinEarliestInWindow(left, right,
          "user_id", "w_user", "ts", "intime", W, "w_id")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tus"), col("w_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      // model: earliest intime in [t-W, t], ties to the SMALLEST w_id —
      // the DESC tie order makes this deterministic, so no tie exclusion.
      val rModel = rs.distinct.groupBy(_._1)
      val model = ls.map { case (u, id, t) =>
        val cands = rModel.getOrElse(u, Nil)
          .filter(w => w._3 >= t - W && w._3 <= t)
        val best =
          if (cands.isEmpty) -1L
          else {
            val mn = cands.map(_._3).min
            cands.filter(_._3 == mn).map(_._2).min
          }
        (id, u, t, best)
      }.toSet
      got == model
    }

  // --- connected components vs union-find on random graphs ----------------
  private val edgeGen: Gen[(Long, Long)] = for {
    a <- Gen.choose(0L, 30L)
    b <- Gen.choose(0L, 30L) if a != b
  } yield (a, b)

  property("binned range join equals the naive theta-join on random values") =
    Prop.forAll(
      Gen.listOfN(25, Gen.choose(-100.0, 100.0)),
      Gen.listOfN(25, Gen.choose(-100.0, 100.0)),
      Gen.oneOf(0.25, 0.5, 1.0, 4.0)) { (ps, ss, delta) =>
      val probe = ps.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("p_id", "p_value")
      val build = ss.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("s_id", "s_value")
      val got = ops.Joins.binnedRangePairs(probe, build, delta)
        .select("p_id", "s_id").as[(Long, Long)].collect().toSet
      val model = (for {
        (pv, pi) <- ps.zipWithIndex
        (sv, si) <- ss.zipWithIndex
        if math.abs(pv - sv) <= delta
      } yield (pi.toLong, si.toLong)).toSet
      got == model
    }

  property("fuzzy join equals the naive levenshtein join on random strings") =
    Prop.forAll(
      Gen.listOfN(12, Gen.choose(4, 6).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))),
      Gen.listOfN(12, Gen.choose(4, 6).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))) {
      (ls, rs) =>
        // tiny alphabet + short strings force collisions, substitutions,
        // and distance-2 near-misses the neighborhood must NOT emit
        val left = ls.zipWithIndex.map { case (n, i) => (i.toLong, n) }
          .toDF("l_id", "l_name")
        val right = rs.zipWithIndex.map { case (n, i) => (i.toLong, n) }
          .toDF("r_id", "r_name")
        val got = ops.Joins.fuzzyPairs(left, right)
          .select("l_id", "r_id").as[(Long, Long)].collect().toSet
        def lev(a: String, b: String): Int = {
          val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
            if (i == 0) j else if (j == 0) i else 0 }
          for (i <- 1 to a.length; j <- 1 to b.length)
            d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
              d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
          d(a.length)(b.length)
        }
        val model = (for {
          (ln, li) <- ls.zipWithIndex
          (rn, ri) <- rs.zipWithIndex
          if lev(ln, rn) <= 1
        } yield (li.toLong, ri.toLong)).toSet
        got == model
    }

  property("census sweep equals per-day occupancy on random intervals") =
    Prop.forAll(Gen.listOfN(25, for {
      s <- Gen.choose(0, 60)
      l <- Gen.choose(1, 15)
    } yield (s, s + l))) { ivs =>
      val base = java.time.LocalDate.of(2020, 1, 1)
      val adm = ivs.map { case (a, b) =>
        (java.sql.Date.valueOf(base.plusDays(a)),
          java.sql.Date.valueOf(base.plusDays(b)))
      }.toDF("admit_d", "disch_d")
      val got = ops.TimeSeriesOps.censusOver(adm)
        .select("day", "census").as[(java.sql.Date, Long)].collect().toMap
      // model: on every delta day, occupancy = #{a <= d < b}; the sweep
      // convention vacates the discharge day (strict <)
      got.nonEmpty && got.forall { case (d, c) =>
        val ld = d.toLocalDate
        ivs.count { case (a, b) =>
          !base.plusDays(a).isAfter(ld) && base.plusDays(b).isAfter(ld)
        }.toLong == c
      }
    }

  property("bottom-k-by-hash equals the window-rank formulation") =
    Prop.forAll(
      Gen.listOfN(40, for {
        g <- Gen.choose(0, 3)
        v <- Gen.oneOf(Gen.const(null: String), Gen.const(""),
          Gen.alphaNumStr.map(_.take(8)),
          Gen.oneOf("dup", "dup", "x")) // force duplicates + nulls
      } yield (g, v)),
      Gen.choose(1, 6)) { (rows, k) =>
      val df = rows.toDF("g", "v")
      val agg = df.groupBy(col("g"))
        .agg(expressions.BottomKByHash.sample(col("v"), k).as("s"))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1).sorted).toMap
      // the O(group-size) window shape the aggregate replaces at scale:
      // rank rows by (md5(v), v), keep k, nulls excluded like the agg
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("h"), col("v"))
      val win = df.filter(col("v").isNotNull)
        .withColumn("h", md5(col("v")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .groupBy(col("g")).agg(collect_list(col("v")).as("s"))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1).sorted).toMap
      // groups whose values are all null aggregate to an empty sample but
      // are absent from the filtered window frame
      agg.filter(_._2.nonEmpty) == win
    }

  property("bounded-top-k equals the window-rank formulation") =
    Prop.forAll(
      Gen.listOfN(50, for {
        g <- Gen.choose(0, 3)
        key <- Gen.choose(0L, 5L) // tiny key range forces rank ties
        id <- Gen.choose(0L, 1000000L)
      } yield (g, key, id)),
      Gen.choose(1, 8)) { (rows, k) =>
      // ids deduped so (key DESC, id ASC) is a total order per group
      val df = rows.distinctBy(r => (r._1, r._3)).toDF("g", "key", "id")
      val agg = df.groupBy(col("g"))
        .agg(expressions.BoundedTopK.topK(col("key"), col("id"), k).as("t"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getLong(0), x.getLong(1))))
        .toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("key").desc, col("id").asc)
      val win = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .groupBy(col("g"))
        .agg(collect_list(struct(col("rn"), col("key"), col("id"))).as("t"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .sortBy(_.getInt(0)).map(x => (x.getLong(1), x.getLong(2))))
        .toMap
      agg == win
    }

  property("exact-substring spans equal the brute-force model") =
    Prop.forAll(Gen.listOfN(6,
      Gen.listOfN(24, Gen.oneOf("a", "b", "c")))) { docTokens =>
      // tiny vocabulary forces duplicated 8-grams across and within docs
      val k = ops.DedupOps.substringK
      val df = docTokens.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = ops.DedupOps.substringSpansOver(df,
          ops.DedupOps.kgramRows(df))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      // model: global k-gram counts -> duplicated start positions ->
      // merged spans per doc
      val grams = docTokens.zipWithIndex.flatMap { case (ts, d) =>
        ts.sliding(k).zipWithIndex.filter(_._1.size == k)
          .map { case (g, p) => (d.toLong, p, g.mkString(" ")) }
      }
      val dupG = grams.groupBy(_._3).filter(_._2.size > 1).keySet
      val model = docTokens.zipWithIndex.map { case (ts, d) =>
        val starts = grams.filter(g => g._1 == d && dupG(g._3)).map(_._2).sorted
        val spans = starts.foldLeft(List.empty[(Int, Int)]) {
          case (acc, p) => acc match {
            case (s, e) :: rest if p <= e => (s, math.max(e, p + k)) :: rest
            case _ => (p, p + k) :: acc
          }
        }
        d.toLong -> ((spans.size.toLong,
          spans.map(x => x._2 - x._1).sum.toLong, ts.size.toLong))
      }.toMap
      got == model
    }

  property("exact-substring cut equals the brute-force model") =
    Prop.forAll(Gen.listOfN(6,
      Gen.listOfN(24, Gen.oneOf("a", "b", "c")))) { docTokens =>
      // same tiny vocabulary as the spans property — duplicated 8-grams
      // are dense, so canonical ownership, canon-coverage precedence and
      // the rebuild all get exercised on every generated corpus
      val k = ops.DedupOps.substringK
      val df = docTokens.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = ops.DedupOps.substringApplyOver(df,
          ops.DedupOps.kgramRows(df))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      // model: dup grams -> canonical (min (doc_id,pos)) occurrence per
      // gram -> token removed iff covered by a non-canonical occurrence
      // and by NO canonical one -> ordered rebuild of the survivors
      val grams = docTokens.zipWithIndex.flatMap { case (ts, d) =>
        ts.sliding(k).zipWithIndex.filter(_._1.size == k)
          .map { case (g, p) => (d.toLong, p, g.mkString(" ")) }
      }
      val dupByGram = grams.groupBy(_._3).filter(_._2.size > 1)
      val canon = dupByGram.values
        .map(os => os.map(o => (o._1, o._2)).min).toSet
      val hasCanon = scala.collection.mutable.Set[(Long, Int)]()
      val coveredNonCanon = scala.collection.mutable.Set[(Long, Int)]()
      dupByGram.values.flatten.foreach { case (d, p, _) =>
        val tgt = if (canon((d, p))) hasCanon else coveredNonCanon
        (p until p + k).foreach(t => tgt += ((d, t)))
      }
      val removed = coveredNonCanon diff hasCanon
      val model = docTokens.zipWithIndex.map { case (ts, d) =>
        val kept = ts.indices.filterNot(i => removed((d.toLong, i)))
        d.toLong -> ((ts.size - kept.size).toLong, kept.size.toLong,
          if (kept.size == ts.size) ts.mkString(" ")
          else kept.map(ts).mkString(" "))
      }.toMap
      got == model
    }

  property("connected components equal union-find on random graphs") =
    Prop.forAll(Gen.listOfN(20, edgeGen)) { es =>
      // the default path (the single-task finish) must agree with the
      // union-find model exactly
      val got = ops.DedupOps
        .connectedComponents(es.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      // distributed star phases too (threshold 0 disables the
      // single-task union-find finish the default path would take)
      val gotStar = ops.DedupOps
        .starContraction(es.toDF("doc_a", "doc_b"), localThreshold = 0L)
        ._1.as[(Long, Long)].collect().toMap
      // model: plain union-find, components labeled by their minimum id
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val model = parent.keys.map(x => x -> find(x)).toMap
      got == model && gotStar == model
    }

  property("dot rewrite output is bit-identical to the interpreted HOF fold") =
    Prop.forAll(Gen.choose(1, 6).flatMap(d =>
      Gen.listOfN(10, Gen.zip(
        Gen.listOfN(d, Gen.choose(-100f, 100f)),
        Gen.listOfN(d, Gen.choose(-100f, 100f)))))) { rows =>
      // the rewrite's contract on clean inputs (equal-length, null-free):
      // identical DOUBLES, not just close — both sides fold ascending
      // repartition blocks ConvertToLocalRelation from evaluating the
      // projection at optimization time (the plan would collapse to a
      // LocalTableScan and show neither spelling)
      val df = rows.map { case (a, b) => (a.toArray, b.toArray) }
        .toDF("va", "vb").repartition(2)
      def hof = aggregate(
        zip_with(col("va"), col("vb"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0d), (acc, v) => acc + v)
      val key = plans.DotProductRewrite.enableKey
      plans.DotProductRewrite.install(spark)
      spark.conf.set(key, "false")
      val base = df.select(hof).as[Double].collect().toSeq
      spark.conf.set(key, "true")
      val rewritten = df.select(hof)
      val fired = rewritten.queryExecution.executedPlan.toString
        .contains("dot_product")
      val rew = rewritten.as[Double].collect().toSeq
      spark.conf.unset(key)
      fired && base == rew
    }

  property("gram_matrix equals brute-force second moments, any partitioning") =
    Prop.forAll(Gen.choose(3, 6).flatMap(d =>
      Gen.listOfN(15, Gen.listOfN(d, Gen.choose(-8f, 8f))).map(d -> _))) {
      case (d, rows) =>
        // the aggregate's merge order varies with partitioning; the
        // result must agree with a single-threaded model to float-sum
        // reassociation tolerance (partials here are exact enough that
        // 1e-9 relative is generous)
        val df = rows.map(r => Tuple1(r.toArray)).toDF("v").repartition(3)
        val got = df.agg(
          expressions.GramMatrix.gram(col("v"), d).as("g"))
          .head.getSeq[Double](0).toArray
        val model = new Array[Double](1 + d + d * (d + 1) / 2)
        rows.foreach { r =>
          model(0) += 1d
          var idx = 1 + d
          for (i <- 0 until d) {
            model(1 + i) += r(i).toDouble
            for (j <- i until d) {
              model(idx) += r(i).toDouble * r(j).toDouble
              idx += 1
            }
          }
        }
        got.length == model.length && got.indices.forall { k =>
          math.abs(got(k) - model(k)) <=
            1e-9 * math.max(1d, math.abs(model(k)))
        }
    }

  // --- mm: multi-index hamming banding is lossless at the threshold ------
  // Model-level pigeonhole check of the r8 phash banding scheme (two
  // 32-bit bands, 1-bit-flip probe neighborhoods): for ANY pair of
  // 64-bit hashes within hamming <= phashMaxHamming (=3), some band must
  // be within 1 bit — the property the candidate join's losslessness
  // rests on, exercised on adversarial clustered hashes (a shared base
  // with up to 6 random bit flips) that the corpus-based brute-force
  // equivalence test cannot construct.
  private val hashClusterGen: Gen[List[Long]] = for {
    base <- Gen.long
    n <- Gen.choose(2, 24)
    hs <- Gen.listOfN(n, Gen.choose(0, 6).flatMap(k =>
      Gen.listOfN(k, Gen.choose(0, 63)).map(bits =>
        bits.foldLeft(base)((h, b) => h ^ (1L << b)))))
  } yield hs

  property("cusum closed form equals the sequential recursion on random series") =
    Prop.forAll(Gen.listOfN(2, Gen.listOfN(30, Gen.choose(0L, 50L)))) { sers =>
      // generated multi-type day-grain counts (including flat and bursty
      // series); the op's windowed prefix-extrema S' must equal the
      // textbook recursion S_t = max(0, S_{t-1} ± n(x_t − μ)) per type
      val base = java.time.LocalDate.of(2021, 1, 1)
      val rows = sers.zipWithIndex.flatMap { case (xs, t) =>
        xs.zipWithIndex.map { case (x, i) =>
          (s"t$t", java.sql.Date.valueOf(base.plusDays(i)), x)
        }
      }
      val got = ops.TimeSeriesOps.cusumOver(rows.toDF("event_type", "day", "x"))
        .select("event_type", "day", "s_up_n", "s_dn_n")
        .collect()
        .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay) ->
          (r.getLong(2), r.getLong(3))).toMap
      sers.zipWithIndex.forall { case (xs, t) =>
        val n = xs.length.toLong; val sx = xs.sum
        var up = 0L; var dn = 0L
        xs.zipWithIndex.forall { case (x, i) =>
          val dev = n * x - sx
          up = math.max(0L, up + dev); dn = math.max(0L, dn - dev)
          got((s"t$t", base.plusDays(i).toEpochDay)) == ((up, dn))
        }
      }
    }

  property("2x32-band 1-bit probing is lossless for hamming <= threshold") =
    Prop.forAll(hashClusterGen) { hs =>
      val arr = hs.toArray
      def bands(h: Long): Seq[Long] = Seq(h >>> 32, h & 0xffffffffL)
      def within1(a: Long, b: Long): Boolean =
        java.lang.Long.bitCount(a ^ b) <= 1
      (for {
        i <- arr.indices
        j <- arr.indices if i < j
        if java.lang.Long.bitCount(arr(i) ^ arr(j)) <=
          graft.multimodal.Multimodal.phashMaxHamming
      } yield bands(arr(i)).zip(bands(arr(j)))
        .exists { case (a, b) => within1(a, b) }).forall(identity)
    }
}
