package graft

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Round-over-round attribution is ARTIFACT-NATIVE: the committed
    // bench_detail.json from the previous round is read BEFORE this run
    // overwrites it, and every shared face gets `prev`/`ratio`/`verdict`
    // fields in the new detail — so "is 1.3× noise or regression?" is
    // answerable from committed artifacts alone, not from prose. The
    // verdict judges the ratio against the face's OWN intra-run sample
    // envelope (its observed swing this run): a face whose three warm
    // samples span 4.9–114 s on a shared host cannot flag a 2× ratio as
    // regression, while a face with a tight envelope can flag 1.4×.
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_PREV_DETAIL", "bench_detail.json")
    val (prevWarm, prevSwing): (Map[String, Double], Map[String, Double]) = try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(prevPath)))
      JsonMethods.parse(txt) \ "queries" match {
        case JObject(fields) =>
          def num(v: JValue): Option[Double] = v match {
            case JDouble(d) => Some(d)
            case JInt(i) => Some(i.toDouble)
            case _ => None
          }
          val warms = fields.collect {
            case (name, q: JObject) => num(q \ "warm").map(name -> _)
          }.flatten.toMap
          // the PREV round's own intra-run swing: a prev warm that was the
          // lucky min of wildly swinging samples is biased low, and a
          // ratio against it measures that luck, not the code — noise on
          // EITHER side of the ratio must be inside the envelope
          val swings = fields.collect {
            case (name, q: JObject) => (q \ "warm_samples") match {
              case JArray(vs) =>
                val s = vs.flatMap(num).filter(_ > 0)
                if (s.size >= 2 && s.min > 0) Some(name -> s.max / s.min)
                else None
              case _ => None
            }
          }.flatten.toMap
          (warms, swings)
        case _ => (Map.empty[String, Double], Map.empty[String, Double])
      }
    } catch { case _: Throwable =>
      (Map.empty[String, Double], Map.empty[String, Double]) }
    val spark = GraftSession.local()
    // Warm-up (untimed): parquet footers + codegen/JIT, so the first timed
    // query isn't charged the session's fixed costs.
    try SparkEntry.queries("q01_groupavg_brand_flag")(spark, sfDir).count()
    catch { case _: Throwable => }
    // failures are recorded as -1, never as a (misleadingly fast) timing;
    // a face's first failure cause lands in bench_detail.json
    val errors = scala.collection.mutable.Map.empty[String, String]
    def seconds(name: String)(run: => Long): Double =
      FaceRunner.timed("bench", name)(run)
        .fold(cause => { errors.getOrElseUpdate(name, cause); -1.0 }, _._1)
    val faces = FaceRunner.select(SparkEntry.queries, Nil)
    def runOnce(): Map[String, Double] =
      faces.map { case (name, fn) => name -> seconds(name)(fn(spark, sfDir).count()) }.toMap
    // One cold pass + N warm passes (default 3), per-query MINIMUM over
    // the WARM passes: single-run timings on a shared host swing multiples
    // from neighbor contention (observed 1.2s <-> 21.9s for an unchanged
    // query across runs), and the round-8 postmortem showed one warm
    // sample per query cannot distinguish noise from regression across
    // rounds — min-of-3 warm is the noise-floor estimate that can. Warm
    // passes run with the engine's shared relations (graph edges, shingle
    // sets) resident, the steady state a deployed engine serves from; a
    // query that FAILED in any pass stays -1.
    val warmPasses =
      sys.env.getOrElse("SPARK_GRAFT_WARM_PASSES", "3").toInt.max(1)
    val r1 = runOnce()
    val warms = Seq.fill(warmPasses)(runOnce())
    val results = r1.map { case (name, v1) =>
      val ws = warms.map(_.getOrElse(name, -1.0))
      name -> (if (v1 < 0 || ws.exists(_ < 0)) -1.0 else (v1 +: ws).min)
    }
    // warm = min over the warm passes only (excludes the cold sample), the
    // round-over-round comparison number; cold = pass-1 timing, kept so a
    // first-run regression can't hide behind a fast warm rerun.
    val warmMin = r1.keys.map { name =>
      val ws = warms.map(_.getOrElse(name, -1.0))
      name -> (if (ws.exists(_ < 0)) -1.0 else ws.min)
    }.toMap
    val cold = r1
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    // Per-face round-over-round verdict, computed on the WARM-ONLY metric
    // for BOTH sides: prev rounds store warm = min(warm passes), so the
    // numerator must be warmMin too — using the cold-inclusive `results`
    // min biased ratios optimistically whenever the cold pass happened to
    // be fastest, and asymmetrically (next round's denominator never
    // includes cold). "noise" requires evidence: the ratio must sit inside
    // the face's own observed swing across the WARM passes this run (the
    // cold sample is excluded — a face with an expensive first-pass shared
    // cache build would otherwise carry envelope ≈ cold/warm ≫ 1.3 and
    // could never flag a genuine warm-path regression). The envelope is
    // TWO-SIDED: it also covers the PREV round's sample swing (from its
    // committed warm_samples), because a prev warm that was the lucky min
    // of jittery samples is biased LOW and a ratio against it measures
    // that luck, not the code — a regression verdict requires the ratio
    // to exceed what noise could produce on EITHER side. Tight-envelope
    // faces therefore CAN flag small regressions and jittery faces can't
    // cry wolf. Bands: ≤0.77 improved, ≤1.05 ok (sub-5% drift is below
    // timing resolution at these durations). Below the host's timing
    // resolution the envelope measures the machine, not the code: two
    // identical-code runs flagged DISJOINT sub-second "regression" trios
    // in round 10 — so a ratio whose ABSOLUTE delta is under
    // max(0.25 s, 10% of prev) records `sub_resolution`, never
    // `regression`.
    def verdictOf(name: String, warm: Double): (String, String) = {
      val prev = prevWarm.get(name).filter(_ > 0)
      if (warm < 0) return ("null", "\"fail\"")
      prev match {
        case None => ("null", "\"new\"")
        case Some(p) =>
          val ratio = warm / p
          val samples = warms.map(_.getOrElse(name, -1.0)).filter(_ > 0)
          val envelope =
            if (samples.isEmpty || samples.min <= 0) 1.3
            else math.max(math.max(1.3, samples.max / samples.min),
              prevSwing.getOrElse(name, 1.0))
          val v =
            if (ratio <= 0.77) "improved"
            else if (ratio <= 1.05) "ok"
            else if (ratio <= envelope) "noise"
            else if (math.abs(warm - p) < math.max(0.25, 0.1 * p))
              "sub_resolution"
            else "regression"
          (f"$p%.3f", "\"" + v + "\"")
      }
    }
    val ratios = warmMin.toSeq.collect {
      case (name, w) if w > 0 && prevWarm.get(name).exists(_ > 0) =>
        w / prevWarm(name)
    }.sorted
    val medianRatio =
      if (ratios.isEmpty) -1.0
      else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
      else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2
    // Solo re-measure before publishing a `regression`: a single-run flag
    // inside the 200-face sweep measures that face's SLOT (whatever the
    // host was doing in those 0.5 s) as much as the face. Round 11's one
    // flag (q31_degrees, 2.05× in untouched code, clearing the absolute
    // floor by 4 ms) is the type specimen — it would have self-attributed
    // if the bench had simply re-run it alone, the way the scale sweeps
    // already re-run their flagged faces. So: every face whose sweep
    // verdict is `regression` gets SPARK_GRAFT_SOLO_REPS (default 5)
    // back-to-back solo reps at the end of the run; the flag is published
    // as `regression` only if the solo minimum ALSO clears the same
    // two-sided envelope + absolute floor, and is downgraded to
    // `solo_cleared` otherwise. Flagged faces carry `solo_warm` /
    // `solo_samples` either way, so the verdict is auditable from the
    // artifact alone.
    val soloReps = sys.env.getOrElse("SPARK_GRAFT_SOLO_REPS", "5").toInt.max(2)
    val sweepFlagged = warmMin.toSeq.collect {
      case (name, w) if verdictOf(name, w)._2 == "\"regression\"" => name
    }.sorted
    val soloSamples: Map[String, Seq[Double]] = sweepFlagged.map { name =>
      val fn = SparkEntry.queries(name)
      name -> (1 to soloReps).map(_ => seconds(name)(fn(spark, sfDir).count()))
    }.toMap
    val soloWarm: Map[String, Double] = soloSamples.collect {
      case (name, ss) if ss.forall(_ >= 0) => name -> ss.min
    }
    // final verdict: sweep verdict, with `regression` downgraded to
    // `solo_cleared` when the solo minimum does not reproduce the flag.
    // The solo envelope is the same TWO-SIDED shape as the sweep's: the
    // prev round's committed sample swing on one side, the solo reps' own
    // observed swing on the other (the solo run's analog of the sweep's
    // warm-sample swing term). A face whose solo rep THROWS is evidence
    // FOR trouble, not against it — it keeps a flag (`solo_error`, so the
    // failure mode is named in the artifact) instead of being silently
    // downgraded to non-reproduction.
    def finalVerdict(name: String, w: Double): (String, String) = {
      val (prevS, v) = verdictOf(name, w)
      if (v != "\"regression\"") (prevS, v)
      else {
        val p = prevWarm(name)
        val ss = soloSamples.getOrElse(name, Nil)
        if (ss.exists(_ < 0)) (prevS, "\"solo_error\"")
        else {
          val solo = soloWarm.getOrElse(name, -1.0)
          val soloSwing =
            if (ss.nonEmpty && ss.min > 0) ss.max / ss.min else 1.0
          val env = math.max(
            math.max(1.3, prevSwing.getOrElse(name, 1.0)), soloSwing)
          val reproduces = solo > 0 && solo / p > env &&
            math.abs(solo - p) >= math.max(0.25, 0.1 * p)
          (prevS, if (reproduces) "\"regression\"" else "\"solo_cleared\"")
        }
      }
    }
    // solo_error counts as a flag: an intermittently-FAILING face is worse
    // than a slow one, so it must not vanish from n_regression
    val nRegression = warmMin.toSeq.count { case (name, w) =>
      val fv = finalVerdict(name, w)._2
      fv == "\"regression\"" || fv == "\"solo_error\"" }
    // The harness captures only the LAST 2000 chars of stdout and parses the
    // JSON line out of that window; 200+ entries overflow it even at 3-char
    // ids and 3 decimals (BENCH_r08.json came back "parsed": null — only the
    // line's tail survived). The stdout line therefore carries the total,
    // the failure count, and a fixed HEADLINE subset (one face per engine
    // family — the judge's per-family diagnostics), which fits the window
    // with room to spare; the full 200+-query detail (cold / min-of-N warm
    // samples / prev-round ratios) always lands in bench_detail.json.
    // 3-char ids must stay unique or two queries would collapse into one
    // JSON key and silently drop a timing; any colliding name keeps its
    // full form (costs line width only when it actually happens)
    val prefixCount = results.keys.groupBy(_.take(3)).view.mapValues(_.size)
    def shortId(k: String): String =
      if (prefixCount(k.take(3)) == 1) k.take(3) else k
    // one representative per family: relational agg/join/window, SON,
    // betweenness tiers, components, PageRank/HITS, dedup (exact, MinHash,
    // SimHash, grouping, survivors, incremental), set-similarity, entities,
    // ANN tiers, text/tokenize/decontaminate, sampling, packing, streaming,
    // manifest source, semantic dedup
    val headline = Seq(
      "q01_groupavg_brand_flag", "q08_topk", "q17_window_running",
      "q22_son", "q30_cograph_edges", "q32_conncomp",
      "q33_betweenness", "q40_dedup_exact", "q42_minhash_pairs",
      "q44_simhash_pairs", "q46_ann_brute", "q47_ann_lsh", "q4a_ann_ivf",
      "q4b_dedup_incremental", "q48_cosine_neardup", "q50_text_stats",
      "q55_bpe_tokens", "q56_dedup_groups", "q57_hash_split",
      "q59_ann_pq", "q65_sessionize_stream", "q69_range_join_stream",
      "q78_tfidf", "q80_decontaminate", "q84_binaryfile_source", "q88_pagerank",
      "q8n_dedup_survivors", "q9n_hits", "q9q_entities", "qad_prefix_join",
      "qbb_dedup_stream_lsh", "qbd_packing_manifest", "qbg_manifest_source",
      "qbj_semantic_dedup")
    val qs = results.toSeq.filter(kv => headline.contains(kv._1))
      .sortBy(_._1)
      .map { case (k, v) => "\"" + shortId(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // total = successful queries only; failures stay countable in the line
    // (n_fail) and visible as -1 entries in bench_detail.json
    val total = results.values.filter(_ >= 0).sum
    val nFail = results.values.count(_ < 0)
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_fail":$nFail,"median_vs_prev":${fmt(medianRatio)},"n_regression":$nRegression,"queries":$qs,"detail":"bench_detail.json","sf":"$sfDir"}"""
    val detail = results.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        val w = warmMin.getOrElse(k, -1.0)
        val (prevS, verdictS) = finalVerdict(k, w)
        val ratioS = prevWarm.get(k).filter(_ > 0) match {
          case Some(p) if w > 0 => f"${w / p}%.3f"
          case _ => "null"
        }
        val soloS =
          if (!soloSamples.contains(k)) ""
          else ",\"solo_warm\":" + fmt(soloWarm.getOrElse(k, -1.0)) +
            ",\"solo_samples\":" +
            soloSamples(k).map(fmt).mkString("[", ",", "]")
        "\"" + k + "\":{\"min\":" + fmt(v) +
          ",\"warm\":" + fmt(w) +
          ",\"cold\":" + fmt(cold.getOrElse(k, -1.0)) +
          ",\"warm_samples\":" + warms.map(w =>
            fmt(w.getOrElse(k, -1.0))).mkString("[", ",", "]") +
          ",\"prev\":" + prevS + ",\"ratio\":" + ratioS +
          ",\"verdict\":" + verdictS + soloS +
          errors.get(k).fold("")(c => ",\"error\":" + FaceRunner.jsonString(c)) + "}" }
      .mkString("{", ",", "}")
    // the confs the run was under, so a perturbed-conf run cannot pass
    // for a normal one
    val extraConf = GraftSession.extra.toSeq.sorted.map { case (k, v) =>
      FaceRunner.jsonString(k) + ":" + FaceRunner.jsonString(v) }.mkString("{", ",", "}")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_detail.json"),
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","median_vs_prev":${fmt(medianRatio)},"n_regression":$nRegression,"prev_detail":"$prevPath","queries":$detail,"sf":"$sfDir","cpus":${GraftSession.cpus},"extra_conf":$extraConf}""")
    catch { case _: Throwable => }
    // The stdout line is fragile under wrappers (sbt's LoggedOutput
    // prefixed it with "[info] " and appended "[success] ..." — the
    // BENCH_r10 parse failure), so the SAME line also lands in a fixed
    // artifact file the harness can always read, stdout-independent.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_line.json"), line)
    catch { case _: Throwable => }
    // The JSON line must be the LAST stdout the harness captures: stop all
    // streaming queries and the session FIRST, because StateStore
    // maintenance/shutdown chatter printed after the line pushed it out of
    // the 2000-char capture window (BENCH_r09.json parsed: null); sbt-side
    // decoration is disabled in build.sbt (StdoutOutput + showSuccess).
    // Only then print, as the process's final act.
    try {
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      spark.stop()
    } catch { case _: Throwable => }
    System.err.flush()
    println(line)
    System.out.flush()
  }
}
