package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** The driver parses the LAST stdout line of graft.Bench and keeps only
  * the final ~2000 chars of output — the canonical line must fit under
  * 1900 chars at any realistic query count while staying strict JSON.
  * These tests pin the degrade ladder's guarantees without a Spark
  * session (canonicalLine is a pure function of the results).
  */
class BenchLineSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  /** 80 names with the repo's real shape/length distribution. */
  private def names80: Seq[String] = {
    val fams = Seq("dedup", "text", "events", "corpus", "stream", "ann", "mm", "cc")
    val ops = Seq("jaccard_capped", "minhash_fast", "retention", "components",
      "fingerprint", "window", "topk", "resize", "quantiles", "boilerplate")
    (for (f <- fams; o <- ops) yield s"ext_${f}_$o").distinct.take(80)
  }

  test("80 queries: canonical line fits 1900 chars, parses, keeps 80 distinct per-query values") {
    val results = names80.zipWithIndex.map { case (n, i) =>
      (n, 2.0 + i * 0.01, 1.0 + i * 0.01, true)
    }
    val line = Bench.canonicalLine(results, "/root/testdata/sf0.1")
    assert(line.length <= 1900, s"line is ${line.length} chars")
    val root = mapper.readTree(line)
    assert(root.get("metric").asText() == "total")
    assert(root.get("value").asDouble() > 0)
    val qs = root.get("queries")
    assert(qs.size() == 80, s"per-query map degraded to ${qs.size()} entries")
    // abbreviation must stay injective — 80 distinct keys
    val keys = {
      val it = qs.fieldNames(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next(); b.result()
    }
    assert(keys.distinct.size == 80)
    assert(root.get("errors").size() == 0)
  }

  test("current registry: the slowest queries always keep values on the line") {
    // the REAL names at pessimistic value widths ("12.34" per query).
    // The guarantee that must never degrade: the line fits, parses, and
    // carries per-query values for AT LEAST the 80 slowest queries —
    // the fast tail may drop (q_omitted counts it; bench_detail keeps
    // every value with full names on its own line)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = names.zipWithIndex.map { case (n, i) =>
      (n, 102.34, 2.34 + i * 0.01, true)
    }
    // per-query shuffle at pessimistic widths ("12345.67" per query)
    val qShuffle = names.map(_ -> 12345.67).toMap
    val line = Bench.canonicalLine(results, "/root/testdata/sf0.1",
      shuffleMb = Some(123456.78), // widest realistic telemetry field
      qShuffleMb = qShuffle)
    assert(line.length <= 1900, s"line is ${line.length} chars at ${names.size} queries")
    val root = mapper.readTree(line)
    assert(root.get("shuffle_mb").asDouble() == 123456.78)
    val qs = root.get("queries")
    // the adaptive rung may shed fast-tail times down to the 48 slowest
    // while full telemetry fits; without telemetry the floor is 80
    val floor = if (root.get("q_shuffle_mb") != null) 48 else 80
    assert(qs.size() >= math.min(floor, names.size),
      s"per-query map degraded to ${qs.size()} of ${names.size} entries")
    if (qs.size() < names.size) {
      assert(root.get("q_omitted").asInt() == names.size - qs.size(),
        "q_omitted must account for every dropped query")
      // the kept set is the SLOWEST queries: the global max must be kept
      val maxName = results.maxBy(_._3)._1
      val kept = Bench.abbrev(names)(maxName)
      assert(qs.has(maxName) || qs.has(kept),
        s"slowest query $maxName missing from the kept per-query map")
    }
    // the contention adjudicator must survive on the canonical line:
    // shuffle MB for the 16 slowest queries, keyed like `queries`
    val qsh = root.get("q_shuffle_mb")
    assert(qsh != null && qsh.size() == 16,
      s"expected 16 q_shuffle_mb entries, got ${if (qsh == null) "none" else qsh.size()}")
    val slowKey = Bench.abbrev(names)(results.maxBy(_._3)._1)
    assert(qsh.has(results.maxBy(_._3)._1) || qsh.has(slowKey),
      "slowest query missing from q_shuffle_mb")
    val it = qsh.fieldNames()
    while (it.hasNext) { val k = it.next(); assert(qs.has(k),
      s"q_shuffle_mb key $k not present in queries map — keys must match") }
  }

  test("q_isolated ladder: isolated re-measures survive on the line at full registry size, keyed like queries") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = names.zipWithIndex.map { case (n, i) =>
      (n, 102.34, 2.34 + i * 0.01, true)
    }
    val qShuffle = names.map(_ -> 12345.67).toMap
    // the 8 slowest get an isolated number (the Bench main's contract)
    val slow8 = results.sortBy(r => (-r._3, r._1)).take(8).map(_._1)
    val qIso = slow8.map(_ -> 3.21).toMap
    val line = Bench.canonicalLine(results, "/root/testdata/sf0.1",
      shuffleMb = Some(123456.78), qShuffleMb = qShuffle, qIsolated = qIso)
    assert(line.length <= 1900, s"line is ${line.length} chars")
    val root = mapper.readTree(line)
    val iso = root.get("q_isolated")
    assert(iso != null && iso.size() == 8,
      s"expected 8 q_isolated entries, got ${if (iso == null) "none" else iso.size()}")
    // keys must match the queries map keying (full or abbreviated alike)
    val qs = root.get("queries")
    val it = iso.fieldNames()
    while (it.hasNext) { val k = it.next(); assert(qs.has(k),
      s"q_isolated key $k not present in queries map — keys must match") }
    // isolated values are the stamped numbers (fmt2 grain)
    assert(iso.elements().next().asDouble() == 3.21)
    // and without isolated data the field is absent, not an empty object
    val bare = Bench.canonicalLine(results, "x")
    assert(mapper.readTree(bare).get("q_isolated") == null)
  }

  test("protocol stamps: cpus + state ride every rung; prev-round isolated numbers resolve full or abbreviated keys") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = names.zipWithIndex.map { case (n, i) =>
      (n, 102.34, 2.34 + i * 0.01, true)
    }
    val slow = results.sortBy(r => (-r._3, r._1)).take(4).map(_._1)
    val qIso = slow.map(_ -> 3.21).toMap
    val short = Bench.abbrev(names)
    // prior-round numbers arrive with MIXED keying (rung-1 lines carry
    // full names, rung-2+ abbreviated) — both must resolve
    val prev = Map(slow.head -> 9.87, short(slow(1)) -> 6.54)
    val line = Bench.canonicalLine(results, "/root/testdata/sf0.1",
      shuffleMb = Some(123456.78),
      qShuffleMb = names.map(_ -> 12345.67).toMap,
      qIsolated = qIso, qIsolatedPrev = prev,
      cpus = Some("32"), state = Some("rebuilt"))
    assert(line.length <= 1900, s"line is ${line.length} chars")
    val root = mapper.readTree(line)
    assert(root.get("cpus").asText() == "32",
      "the canonical line must stamp its cpu protocol")
    assert(root.get("state").asText() == "rebuilt",
      "the canonical line must stamp the state-reuse knob")
    val prevNode = root.get("q_isolated_prev")
    assert(prevNode != null && prevNode.size() == 2,
      s"expected 2 q_isolated_prev entries, got ${if (prevNode == null) "none" else prevNode.size()}")
    // keyed like q_isolated/queries on the surviving rung
    val iso = root.get("q_isolated")
    val it = prevNode.fieldNames()
    while (it.hasNext) { val k = it.next(); assert(iso.has(k),
      s"q_isolated_prev key $k must match the q_isolated keying") }
    // a reused-state run is visibly different
    val reused = Bench.canonicalLine(results, "x", cpus = Some("8"),
      state = Some("reused"))
    assert(mapper.readTree(reused).get("state").asText() == "reused")
  }

  test("full registry with ALL telemetry: shuffle + isolated + prev survive together (adaptive rung)") {
    // the round-10 regression scenario: at 244 queries the fixed top-80
    // rung overflowed once stamps + prev landed, silently dropping
    // q_shuffle_mb (THE adjudicator) to a lower rung — the adaptive rung
    // must shed fast-tail times instead
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = names.zipWithIndex.map { case (n, i) =>
      (n, 102.34, 2.34 + i * 0.01, true)
    }
    val short = Bench.abbrev(names)
    // 16 isolated entries = the top-8 + the real standing watchlist's
    // size band (the round-12 run carried 16; 11 masked the overflow)
    val slow = results.sortBy(r => (-r._3, r._1)).take(16).map(_._1)
    val qIso = slow.map(_ -> 3.21).toMap
    val prev = slow.map(n => short(n) -> 9.87).toMap
    val line = Bench.canonicalLine(results, "/root/testdata/sf0.1",
      shuffleMb = Some(123456.78),
      qShuffleMb = names.map(_ -> 12345.67).toMap,
      qIsolated = qIso, qIsolatedPrev = prev,
      qIsolatedShuffleMb = slow.map(_ -> 45.67).toMap,
      cpus = Some("32"), state = Some("rebuilt"))
    assert(line.length <= 1900, s"line is ${line.length} chars")
    val root = mapper.readTree(line)
    assert(root.get("q_shuffle_mb") != null && root.get("q_shuffle_mb").size() == 16,
      "shuffle telemetry must survive at full registry size")
    assert(root.get("q_isolated") != null && root.get("q_isolated").size() == 16)
    assert(root.get("q_isolated_prev") != null &&
      root.get("q_isolated_prev").size() == 16,
      "prior-round isolated numbers must survive at full registry size")
    // round-12: isolated reruns carry shuffle bytes (the isolated-drift
    // adjudicator), keyed like q_isolated on the surviving rung
    val isoShuf = root.get("q_isolated_shuffle_mb")
    assert(isoShuf != null && isoShuf.size() == 16,
      "q_isolated_shuffle_mb must survive at full registry size")
    isoShuf.fieldNames().forEachRemaining { k =>
      assert(root.get("q_isolated").has(k),
        s"q_isolated_shuffle_mb key $k must match the q_isolated keying")
    }
    assert(root.get("queries").size() >= 24)
    assert(root.get("q_omitted").asInt() ==
      names.size - root.get("queries").size())
  }

  test("parsePrevIsolated scavenges full and abbreviated keys from a truncated artifact tail") {
    // the shape BENCH_r{N}.json actually holds: a truncated bench_detail
    // fragment (full names, cut mid-map) then the canonical line
    // (abbreviated keys at rung 2+)
    val tail = """t_ann_recall":5.414,"ext_dedup_canonical":3.850},"errors":[]}}
{"metric":"total","value":294.6,"unit":"sec","queries":{"extanhnap":51.79},"q_isolated":{"extanhnap":8.45,"extanhnsw":11.55},"errors":[],"sf":"x"}"""
    val got = Bench.parsePrevIsolated(tail)
    assert(got("extanhnap") == 8.45 && got("extanhnsw") == 11.55)
    assert(!got.contains("t_ann_recall"), "truncated leading fragment has no queries_isolated marker")
    // when the full-name bench_detail fragment is present it WINS
    // OUTRIGHT: abbreviations shift when the roster changes, so a prior
    // abbrev key can silently resolve to a different query under this
    // round's table (round-10 ADVICE) — abbreviated pairs are only the
    // fallback when no queries_isolated pair survived the tail cut
    val both = Bench.parsePrevIsolated(
      """{"bench_detail":{"queries_isolated":{"ext_ann_hnsw_append":8.780,"ext_ann_hnsw":2.028},"errors":[]}}
{"metric":"total","q_isolated":{"extanhnap":8.45},"sf":"x"}""")
    assert(both("ext_ann_hnsw_append") == 8.78 && both("ext_ann_hnsw") == 2.028)
    assert(!both.contains("extanhnap"),
      "abbreviated keys must be dropped when full-name pairs parsed")
    assert(Bench.parsePrevIsolated("not json at all") == Map.empty)
    // the driver's BENCH_r{N}.json embeds the tail as a JSON STRING, so
    // every quote arrives backslash-escaped — the real artifact shape
    val escaped = """{"n":9,"tail":"{\"metric\":\"total\",\"q_isolated\":{\"extanhnap\":8.45,\"extskqu\":0.56},\"errors\":[]}"}"""
    val esc = Bench.parsePrevIsolated(escaped)
    assert(esc("extanhnap") == 8.45 && esc("extskqu") == 0.56,
      "escaped-quote artifact tails must parse")
  }

  test("prev-bench pick: same-round re-runs never diff against their own artifact") {
    // VERDICT.md "# VERDICT — round 10" ⇒ the in-progress round is 11
    assert(Bench.parseVerdictRound("# VERDICT — round 10\n\nSummary: ...") ==
      Some(11))
    assert(Bench.parseVerdictRound("VERDICT - round 3") == Some(4))
    assert(Bench.parseVerdictRound("no header here") == None)
    val cands = Seq((9, "BENCH_r9.json"), (10, "BENCH_r10.json"),
      (11, "BENCH_r11.json"))
    // round 11 in progress: r11 is this round's OWN artifact (a
    // same-round re-run) — the prior round is r10
    assert(Bench.pickPrevBench(cands, Some(11)) == Some("BENCH_r10.json"))
    // no verdict readable (round 1 / stripped checkout): newest wins
    assert(Bench.pickPrevBench(cands, None) == Some("BENCH_r11.json"))
    assert(Bench.pickPrevBench(Nil, Some(11)) == None)
    assert(Bench.pickPrevBench(Seq((11, "BENCH_r11.json")), Some(11)) == None,
      "an own-round-only artifact list must yield no prev, not itself")
  }

  test("bench_detail carries full-name warm times and each failure's cause") {
    val results = Seq(("ext_a", 2.5, 1.25, true), ("ext_b", 3.0, 2.0, false))
    val err = Bench.describe(new IllegalStateException("bad \"quote\"\tand\nsecond line"))
    assert(err == "java.lang.IllegalStateException: bad \"quote\"\tand")
    val root = mapper.readTree(Bench.detailLine(results, Seq("ext_a" -> 0.5),
      Seq.empty, Seq.empty, Seq("ext_b" -> err))).get("bench_detail")
    assert(root.get("queries_warm").get("ext_a").asDouble() == 1.25)
    assert(root.get("queries_warm").get("ext_b").asDouble() == 2.0)
    assert(root.get("queries_cold").get("ext_b").asDouble() == 3.0)
    assert(root.get("errors").size() == 1)
    assert(root.get("errors").get("ext_b").asText() == err)
  }

  test("pathological failure: every query errored still yields a short, parseable line") {
    val results = names80.map(n => (n, 2.0, 1.0, false))
    val line = Bench.canonicalLine(results, "/root/testdata/sf0.1")
    assert(line.length <= 1900)
    val root = mapper.readTree(line)
    assert(root.get("errors").size() >= 1) // list or collapsed count
  }

  test("SPARK_GRAFT_ONLY validation: unknown or empty filters are rejected") {
    val known = Set("q01_denorm_joins", "ext_dedup_exact")
    assert(Bench.resolveFilter(None, known) == Right(None))
    assert(Bench.resolveFilter(Some("q01_denorm_joins"), known) ==
      Right(Some(Set("q01_denorm_joins"))))
    assert(Bench.resolveFilter(Some(" q01_denorm_joins , ext_dedup_exact"), known) ==
      Right(Some(known)))
    assert(Bench.resolveFilter(Some(""), known).isLeft, "empty filter must be rejected")
    assert(Bench.resolveFilter(Some(" , "), known).isLeft)
    val typo = Bench.resolveFilter(Some("q01_denorm_joins,ext_dedup_exakt"), known)
    assert(typo.isLeft && typo.left.exists(_.contains("ext_dedup_exakt")),
      "unknown names must be rejected and named")
  }

  test("filtered runs carry a subset marker on the canonical line") {
    val results = names80.take(2).map(n => (n, 2.0, 1.0, true))
    val line = Bench.canonicalLine(results, "/root/testdata/sf0.1", filteredOf = Some(114))
    val root = mapper.readTree(line)
    assert(root.get("filtered").asText() == "2/114",
      "a subset run must never masquerade as a full-suite total")
    // and a full run carries no marker
    assert(mapper.readTree(Bench.canonicalLine(results, "x")).get("filtered") == null)
  }

  test("abbrev is deterministic and injective on colliding prefixes") {
    // jaccard/jacket abbreviate identically ("extdeja") pre-suffix
    val ns = Seq("ext_dedup_jaccard", "ext_dedup_jacket",
      "ext_dedup_jaccard_capped", "q01_denorm_joins")
    val a = Bench.abbrev(ns)
    assert(a.values.toSeq.distinct.size == ns.size)
    assert(a == Bench.abbrev(ns.reverse), "must not depend on input order")
  }
}
