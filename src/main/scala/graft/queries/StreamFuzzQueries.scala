package graft.queries

import Q._

/** Promoted permanent oracle rows from the STREAMING differential fuzz
  * generator ([[StreamFuzzGen]]) — one seed per structural family,
  * selected deterministically as the FIRST seed exhibiting each shape
  * so the choice is reproducible from the generator alone:
  *   - window aggregates (tumbling single-key, hopping, tumbling
  *     composite-key) — `q_fuzz_stream_<seed>`;
  *   - session-window annotation over SessionWindows (single- and
  *     composite-key) — `q_fuzz_stream_s<seed>`;
  *   - retract group aggregation over StatefulOps (SUM and MIN/MAX
  *     arms) — `q_fuzz_stream_r<seed>`;
  *   - retractable Top-N over RetractableTopN (unique-sort and
  *     tie-bearing cents-sort arms) — `q_fuzz_stream_t<seed>`;
  *   - CEP patterns over the batch NFA ([[CepFuzzGen]]: 2-step windowed
  *     and 3-step shapes) — `q_fuzz_cep_<seed>`;
  *   - streaming dedup over StatefulOps keep-first/keep-last/
  *     event-time-TTL processors — `q_fuzz_stream_d<seed>`;
  *   - and the later-round families listed with their seed scans below
  *     (joins/temporal/interval/window joins, over-aggs bounded and
  *     unbounded, cumulate/count/rank windows, lateness, coGroup,
  *     lookup cache modes, CEP quantifiers/negation/multiplicity/
  *     timeouts, watermark idleness/alignment, and the checkpoint
  *     stop/restart recovery battery).
  * Each row replays the events table through a MemoryStream into the
  * case's operator and is checked against the case's own DuckDB
  * restatement — the driver-gated tie-in for the engine-vs-engine
  * sweeps in `StreamFuzzSpec` / `graft.StreamFuzzDump`.
  */
object StreamFuzzQueries {

  /** First seed in 1..256 whose generated case matches the shape — the
    * deterministic promotion rule every family shares (reproducible
    * from the generator alone).
    */
  private[queries] def firstSeedOf[C](label: String, gen: Long => C)(
      p: C => Boolean): Long =
    (1L to 256L).find(s => p(gen(s)))
      .getOrElse(sys.error(s"no $label seed in 1..256 matches the shape"))

  /** tumble+1key, hop, tumble+2keys — deterministic shape scan. */
  private[queries] val seeds: Seq[Long] = Seq(
    firstSeedOf("window", StreamFuzzGen.gen)(c => !c.isHop && c.keys.length == 1),
    firstSeedOf("window", StreamFuzzGen.gen)(c => c.isHop),
    firstSeedOf("window", StreamFuzzGen.gen)(c => !c.isHop && c.keys.length == 2)).distinct

  private val cases: Seq[StreamFuzzGen.Case] = seeds.map(StreamFuzzGen.gen)

  /** single-key and composite-key session shapes. */
  private[queries] val sessSeeds: Seq[Long] = Seq(
    firstSeedOf("session", StreamFuzzGen.genSession)(_.keys.length == 1),
    firstSeedOf("session", StreamFuzzGen.genSession)(_.keys.length == 2)).distinct

  /** one dynamic-gap session shape whose gap expression actually varies
    * per row (a CASE or modulo arm — constant-gap draws are the fixed
    * family's territory).
    */
  private[queries] val sessDynSeeds: Seq[Long] = Seq(
    firstSeedOf("sessiondyn", StreamFuzzGen.genSessionDyn)(c =>
      c.gapSql.contains("CASE") && c.keySql != "event_type"))

  /** one composite-key state-surgery shape (CONCAT keys carry MIXED
    * string lengths, so the length-parity rewrite hits some keys and
    * spares others — both branches of the savepoint rewrite land).
    */
  private[queries] val surgerySeeds: Seq[Long] = Seq(
    firstSeedOf("surgery", StreamFuzzGen.genSurgery)(c =>
      c.keySql.contains("CONCAT") && c.rwMod == 2))

  /** one SUM and one MIN/MAX retract shape. */
  private[queries] val retSeeds: Seq[Long] = Seq(
    firstSeedOf("retract", StreamFuzzGen.genRetract)(_.op == "sum"),
    firstSeedOf("retract", StreamFuzzGen.genRetract)(c => c.op != "sum")).distinct

  /** the natural SUM retract seed, re-run through the MINI-BATCH
    * emission protocol (one -U/+U step per key per micro-batch instead
    * of per record — MiniBatchGroupAggFunction semantics): the same
    * case, the same oracle, a pure emission-protocol differential
    * against `q_fuzz_stream_r` + the batch restatement.
    */
  private[queries] val mbSeeds: Seq[Long] = Seq(
    firstSeedOf("retract", StreamFuzzGen.genRetract)(_.op == "sum"))

  /** one coarse-value split-distinct shape (duplicated values — the
    * retract-one-copy multiplicity bite) and one full-cardinality
    * shape (maximum shard breadth across the value % buckets keys).
    */
  private[queries] val cdSeeds: Seq[Long] = Seq(
    firstSeedOf("distinct", StreamFuzzGen.genDistinct)(c =>
      c.valueSql.contains("%") && c.groupSql != "event_type"),
    firstSeedOf("distinct", StreamFuzzGen.genDistinct)(_.valueSql == "user_id")
  ).distinct

  /** one unique-sort and one tie-bearing (cents) top-n shape. */
  private[queries] val topNSeeds: Seq[Long] = Seq(
    firstSeedOf("topn", StreamFuzzGen.genTopN)(_.sortSql == "event_id"),
    firstSeedOf("topn", StreamFuzzGen.genTopN)(_.sortSql.contains("DECIMAL"))).distinct

  /** one keep-last and one event-time-TTL dedup shape (keep-first is
    * the TTL mode's degenerate island and stays sweep-covered).
    */
  private[queries] val dedupSeeds: Seq[Long] = Seq(
    firstSeedOf("dedup", StreamFuzzGen.genDedup)(_.mode == "last"),
    firstSeedOf("dedup", StreamFuzzGen.genDedup)(_.mode == "first_ttl")).distinct

  /** one outer-family (full preferred — the widest retraction protocol),
    * one semi, one anti join shape. A seed determines its joinType, so
    * the three scans land on distinct seeds by construction.
    */
  private[queries] val joinSeeds: Seq[Long] = Seq(
    firstSeedOf("join", StreamFuzzGen.genJoin)(_.joinType == "full"),
    firstSeedOf("join", StreamFuzzGen.genJoin)(_.joinType == "semi"),
    firstSeedOf("join", StreamFuzzGen.genJoin)(_.joinType == "anti")).distinct

  /** one zero-spanning interval shape (lo < 0 < hi — rows joining both
    * backward and forward, the bidirectional-buffer case).
    */
  private[queries] val intervalSeeds: Seq[Long] = Seq(
    firstSeedOf("interval", StreamFuzzGen.genInterval)(c => c.loMinutes < 0 && c.hiMinutes > 0)).distinct

  /** one composite-key window-join shape (key = user#type — sparse
    * per-window slices, the null-heavy side of the join space).
    */
  private[queries] val winJoinSeeds: Seq[Long] = Seq(
    firstSeedOf("winjoin", StreamFuzzGen.genWinJoin)(_.keySql.contains("CONCAT"))).distinct

  /** one RANGE-mode streaming-over shape (peer groups accumulate before
    * emitting — the arm the hand-written q_stream_over ROWS row leaves
    * uncovered).
    */
  private[queries] val overSeeds: Seq[Long] = Seq(
    firstSeedOf("over", StreamFuzzGen.genOver)(_.rangeMode)).distinct

  /** one ROWS-frame and one RANGE-frame BOUNDED-preceding over shape —
    * the retract-path arms the unbounded `q_fuzz_stream_ov*` rows never
    * reach (their accumulator only grows).
    */
  private[queries] val boundedOverSeeds: Seq[Long] = Seq(
    firstSeedOf("boundedover", StreamFuzzGen.genBoundedOver)(!_.rangeMode),
    firstSeedOf("boundedover", StreamFuzzGen.genBoundedOver)(_.rangeMode))
    .distinct

  /** one merged-history (mod-keyed) temporal/as-of shape — the arm that
    * interleaves several users' version chains through one MapState.
    */
  private[queries] val temporalSeeds: Seq[Long] = Seq(
    firstSeedOf("temporal", StreamFuzzGen.genTemporal)(_.keySql.contains("%"))).distinct

  /** one merged-history (mod-keyed) PROC-TIME join shape — several
    * users' version chains through one ValueState, clears interleaving
    * with upserts.
    */
  private[queries] val ptJoinSeeds: Seq[Long] = Seq(
    firstSeedOf("ptjoin", StreamFuzzGen.genPtJoin)(_.keySql.contains("%"))).distinct

  /** one composite-key cumulate TVF shape (slice expansion × key
    * product — the widest cumulate plan).
    */
  private[queries] val cumulateSeeds: Seq[Long] = Seq(
    firstSeedOf("cumulate", WindowFuzzGen.genCumulate)(_.keys.length == 2)).distinct

  /** one tumbling and one sliding count-window shape. */
  private[queries] val countWinSeeds: Seq[Long] = Seq(
    firstSeedOf("countwin", WindowFuzzGen.genCountWin)(!_.sliding),
    firstSeedOf("countwin", WindowFuzzGen.genCountWin)(c =>
      c.sliding && c.slide < c.size)).distinct

  /** one window-topn and one window-dedup keep-last shape. */
  private[queries] val winRankSeeds: Seq[Long] = Seq(
    firstSeedOf("winrank", WindowFuzzGen.genWinRank)(_.mode == "topn"),
    firstSeedOf("winrank", WindowFuzzGen.genWinRank)(c =>
      c.mode == "dedup" && c.last)).distinct

  /** one wide-refire-band allowed-lateness shape (lateness ≥ 2 windows —
    * several fired windows stay re-fireable at once).
    */
  private[queries] val latenessSeeds: Seq[Long] = Seq(
    firstSeedOf("lateness", StreamFuzzGen.genLateness)(_.latenessMult >= 2)).distinct

  /** one sliding-window coGroup shape (each record buffered in
    * size/slide window instances — the multi-assignment arm the hand
    * rows cover only at fixed shapes).
    */
  private[queries] val coGroupSeeds: Seq[Long] = Seq(
    firstSeedOf("cogroup", StreamFuzzGen.genCoGroup)(_.isSliding)).distinct

  /** one 2-step windowed and one 3-step CEP shape. */
  private[queries] val cepSeeds: Seq[Long] = Seq(
    firstSeedOf("cep", CepFuzzGen.gen)(c => c.steps.length == 2 && c.withinMinutes.isDefined),
    firstSeedOf("cep", CepFuzzGen.gen)(_.steps.length == 3)).distinct

  /** one fixed-times, one optional (the greedy backtrack-to-absent
    * branch), and one unbounded oneOrMore quantifier shape (a seed
    * determines its arm, so the scans land on distinct seeds).
    */
  private[queries] val quantSeeds: Seq[Long] = Seq(
    firstSeedOf("quant", CepFuzzGen.genQuant)(_.arm == "times"),
    firstSeedOf("quant", CepFuzzGen.genQuant)(_.arm == "optional"),
    firstSeedOf("quant", CepFuzzGen.genQuant)(_.arm == "oneormore")).distinct

  /** one notNext and one notFollowedBy negation shape. */
  private[queries] val relaxedSeeds: Seq[Long] = Seq(
    firstSeedOf("relaxed", CepFuzzGen.genRelaxed)(_.neg.exists(_._2)),
    firstSeedOf("relaxed", CepFuzzGen.genRelaxed)(_.neg.exists(!_._2))).distinct

  /** one 2-step followedByAny multiplicity shape (the SQL-restatable
    * arm — NO SKIP emits every candidate branch per anchor; any3/comb
    * stay enumerator-gated in CepFuzzSpec by design).
    */
  private[queries] val anySeeds: Seq[Long] = Seq(
    firstSeedOf("cepany", CepFuzzGen.genAny)(_.arm == "any2"))

  /** one 3-step timeout side-output shape (the longest partial-match
    * chains — anchors can get two steps in and still time out).
    */
  private[queries] val timeoutSeeds: Seq[Long] = Seq(
    firstSeedOf("cepto", CepFuzzGen.genTimeout)(_.types.length == 3))

  /** one delayed idleness shape (delay > 0 — the partial-watermark
    * arithmetic and the idle release both in play) for the
    * WatermarkMux combined-clock family.
    */
  private[queries] val idleSeeds: Seq[Long] = Seq(
    firstSeedOf("wmidle", StreamFuzzGen.genIdle)(c =>
      c.delayMinutes > 0 && c.idleTimeoutRounds == 2))

  /** one tight-drift alignment shape (span/20 — pausing dominates the
    * pacing) for the alignRounds family. The COARSEST round split
    * (roundsDiv = 4, mod = 3) is required too: alignment cost is
    * (protocol rounds × the ~2 s micro-batch floor), and a fine split
    * priced the one row at 17–23 s without widening the drift-cap
    * bite — fast advances span/4 per round against a span/20 cap, so
    * pausing still fires from round one (the spec asserts it on the
    * promoted seed, which rides the pacing-guard loop).
    */
  private[queries] val wmAlignSeeds: Seq[Long] = Seq(
    firstSeedOf("wmalign", StreamFuzzGen.genWmAlign)(c =>
      c.driftDiv == 20 && c.roundsDiv == 4 && c.mod == 3))

  /** one mod-keyed broadcast-state shape (many users behind one rule
    * key — data crossing rule boundaries, the order-sensitive surface
    * the hand row under-covers).
    */
  private[queries] val broadcastSeeds: Seq[Long] = Seq(
    firstSeedOf("broadcast", StreamFuzzGen.genBroadcast)(c =>
      c.keySql.contains("%") && c.nRules >= 3))

  /** one coarse-quantization merged-key temporal-sort shape (≥5-minute
    * tie buckets over a mod key — the widest per-timestamp buffer
    * lists, where arrival-order emission is most load-bearing).
    */
  private[queries] val tsortSeeds: Seq[Long] = Seq(
    firstSeedOf("tsort", StreamFuzzGen.genTsort)(c =>
      c.quantMinutes >= 5 && c.keySql.contains("%")))

  /** one tie-bearing (cents-sort) Fast Top-1 shape and one append
    * First-N shape (counter-only state).
    */
  private[queries] val t1Seeds: Seq[Long] = Seq(
    firstSeedOf("t1", StreamFuzzGen.genT1)(c =>
      c.arm == "top1" && c.sortSql.contains("DECIMAL")),
    firstSeedOf("t1", StreamFuzzGen.genT1)(_.arm == "firstn")).distinct

  /** Deterministic stop/restart boundary for a recovery-arm seed: a
    * batch index in 1..3 ([[Replay.runToEnd]] clamps into the
    * replay's actual batch range) — "random batch boundary", but a pure
    * function of the seed so every run stops at the same place.
    */
  def restartBoundary(seed: Long): Int =
    1 + math.floorMod(StreamFuzzGen.scramble(seed ^ 0x4ec04e4L), 3L).toInt

  private val sessCases = sessSeeds.map(StreamFuzzGen.genSession)
  private val sessDynCases = sessDynSeeds.map(StreamFuzzGen.genSessionDyn)
  private val surgeryCases = surgerySeeds.map(StreamFuzzGen.genSurgery)
  private val retCases = retSeeds.map(StreamFuzzGen.genRetract)
  private val mbCases = mbSeeds.map(s =>
    StreamFuzzGen.genRetract(s).copy(op = "sum"))
  private val cdCases = cdSeeds.map(StreamFuzzGen.genDistinct)
  private val topNCases = topNSeeds.map(StreamFuzzGen.genTopN)
  private val cepCases = cepSeeds.map(CepFuzzGen.gen)
  private val dedupCases = dedupSeeds.map(StreamFuzzGen.genDedup)
  private val joinCases = joinSeeds.map(StreamFuzzGen.genJoin)
  private val temporalCases = temporalSeeds.map(StreamFuzzGen.genTemporal)
  private val quantCases = quantSeeds.map(CepFuzzGen.genQuant)
  private val relaxedCases = relaxedSeeds.map(CepFuzzGen.genRelaxed)
  private val anyCases = anySeeds.map(CepFuzzGen.genAny)
  private val timeoutCases = timeoutSeeds.map(CepFuzzGen.genTimeout)
  private val idleCases = idleSeeds.map(StreamFuzzGen.genIdle)
  private val wmAlignCases = wmAlignSeeds.map(StreamFuzzGen.genWmAlign)
  private val broadcastCases = broadcastSeeds.map(StreamFuzzGen.genBroadcast)
  private val tsortCases = tsortSeeds.map(StreamFuzzGen.genTsort)
  private val t1Cases = t1Seeds.map(StreamFuzzGen.genT1)
  private val intervalCases = intervalSeeds.map(StreamFuzzGen.genInterval)
  private val winJoinCases = winJoinSeeds.map(StreamFuzzGen.genWinJoin)
  private val overCases = overSeeds.map(StreamFuzzGen.genOver)
  private val boundedOverCases =
    boundedOverSeeds.map(StreamFuzzGen.genBoundedOver)
  private val ptJoinCases = ptJoinSeeds.map(StreamFuzzGen.genPtJoin)
  private val cumulateCases = cumulateSeeds.map(WindowFuzzGen.genCumulate)
  private val countWinCases = countWinSeeds.map(WindowFuzzGen.genCountWin)
  private val winRankCases = winRankSeeds.map(WindowFuzzGen.genWinRank)
  private val latenessCases = latenessSeeds.map(StreamFuzzGen.genLateness)
  private val coGroupCases = coGroupSeeds.map(StreamFuzzGen.genCoGroup)

  val queries: Map[String, QFn] =
    cases.map { c =>
      s"q_fuzz_stream_${c.seed}" -> ((s, dir) =>
        StreamQueries.streamFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    sessCases.map { c =>
      s"q_fuzz_stream_s${c.seed}" -> ((s, dir) =>
        StreamQueries.streamSessionFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    sessDynCases.map { c =>
      s"q_fuzz_stream_sd${c.seed}" -> ((s, dir) =>
        StreamQueries.streamSessionDynFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    surgeryCases.map { c =>
      s"q_fuzz_surgery_${c.seed}" -> ((s, dir) =>
        StreamQueries.streamSurgeryFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    retCases.map { c =>
      s"q_fuzz_stream_r${c.seed}" -> ((s, dir) =>
        StreamQueries.streamRetractFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    mbCases.map { c =>
      s"q_fuzz_stream_mb${c.seed}" -> ((s, dir) =>
        StreamQueries.streamRetractFuzzReplay(s, dir, c,
          miniBatch = true)): (String, QFn)
    }.toMap ++
    cdCases.map { c =>
      s"q_fuzz_stream_cd${c.seed}" -> ((s, dir) =>
        StreamQueries.streamDistinctFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    topNCases.map { c =>
      s"q_fuzz_stream_t${c.seed}" -> ((s, dir) =>
        StreamQueries.streamTopNFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    cepCases.map { c =>
      s"q_fuzz_cep_${c.seed}" -> ((s, dir) =>
        CepQueries.cepFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    dedupCases.map { c =>
      s"q_fuzz_stream_d${c.seed}" -> ((s, dir) =>
        StreamQueries.streamDedupFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    joinCases.map { c =>
      s"q_fuzz_stream_j${c.seed}" -> ((s, dir) =>
        StreamQueries.streamJoinFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    temporalCases.map { c =>
      s"q_fuzz_stream_tj${c.seed}" -> ((s, dir) =>
        StreamQueries.streamTemporalFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    quantCases.map { c =>
      s"q_fuzz_cepq_${c.seed}" -> ((s, dir) =>
        CepQueries.cepQuantFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    relaxedCases.map { c =>
      s"q_fuzz_cepr_${c.seed}" -> ((s, dir) =>
        CepQueries.cepRelaxedFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    anyCases.map { c =>
      s"q_fuzz_cepany_${c.seed}" -> ((s, dir) =>
        CepQueries.cepAnyFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    timeoutCases.map { c =>
      s"q_fuzz_cepto_${c.seed}" -> ((s, dir) =>
        CepQueries.cepTimeoutFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    idleCases.map { c =>
      s"q_fuzz_stream_wi${c.seed}" -> ((s, dir) =>
        StreamQueries.streamIdleFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    wmAlignCases.map { c =>
      s"q_fuzz_stream_wa${c.seed}" -> ((s, dir) =>
        StreamQueries.streamWmAlignFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    broadcastCases.map { c =>
      s"q_fuzz_stream_bc${c.seed}" -> ((s, dir) =>
        StreamQueries.streamBroadcastFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    tsortCases.map { c =>
      s"q_fuzz_stream_ts${c.seed}" -> ((s, dir) =>
        StreamQueries.streamTsortFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    t1Cases.map { c =>
      s"q_fuzz_stream_top${c.seed}" -> ((s, dir) =>
        StreamQueries.streamT1FuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    intervalCases.map { c =>
      s"q_fuzz_stream_iv${c.seed}" -> ((s, dir) =>
        StreamQueries.streamIntervalFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    winJoinCases.map { c =>
      s"q_fuzz_stream_wj${c.seed}" -> ((s, dir) =>
        StreamQueries.streamWinJoinFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    overCases.map { c =>
      s"q_fuzz_stream_ov${c.seed}" -> ((s, dir) =>
        StreamQueries.streamOverFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    boundedOverCases.map { c =>
      s"q_fuzz_stream_ovb${c.seed}" -> ((s, dir) =>
        StreamQueries.streamBoundedOverFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    ptJoinCases.map { c =>
      s"q_fuzz_stream_ptj${c.seed}" -> ((s, dir) =>
        StreamQueries.streamPtJoinFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    cumulateCases.map { c =>
      s"q_fuzz_stream_cu${c.seed}" -> ((s, dir) =>
        WindowFuzzGen.replayCumulate(s, dir, c)): (String, QFn)
    }.toMap ++
    countWinCases.map { c =>
      s"q_fuzz_stream_cw${c.seed}" -> ((s, dir) =>
        StreamQueries.streamCountWinFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    winRankCases.map { c =>
      s"q_fuzz_stream_wr${c.seed}" -> ((s, dir) =>
        WindowFuzzGen.replayWinRank(s, dir, c)): (String, QFn)
    }.toMap ++
    latenessCases.map { c =>
      s"q_fuzz_stream_lw${c.seed}" -> ((s, dir) =>
        StreamQueries.streamLatenessFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    coGroupCases.map { c =>
      s"q_fuzz_stream_cg${c.seed}" -> ((s, dir) =>
        StreamQueries.streamCoGroupFuzzReplay(s, dir, c)): (String, QFn)
    }.toMap ++
    recoverQueries

  /** Checkpoint stop/restart RESUME rows (the reference's exactly-once
    * guarantee across failures — CheckpointCoordinator barrier
    * snapshots; Spark restated as WAL offsets + state-store restore):
    * the same promoted fuzz cases replay with a seed-determined
    * mid-replay stop() + restart from the checkpoint, and the resumed
    * run's folded output must STILL equal the case's DuckDB
    * restatement. One row per recovered-state shape: the full-outer
    * join's retract-pad MapStates, the retract-agg accumulators, the
    * temporal join's version MapState + watermark, the built-in
    * windowed aggregation's watermark + window state, the CEP NFA's
    * partial-match buffer, and the allowed-lateness operator's
    * alive-window + fired-pane states.
    */
  private lazy val recoverQueries: Map[String, QFn] = {
    val j = joinCases.find(_.joinType == "full").get
    val r = retCases.head
    val tj = temporalCases.head
    val w = cases.head
    val se = sessCases.head
    val tn = topNCases.head
    val ce = cepCases.head // windowed 2-step: NFA partial-match buffer
    val lw = latenessCases.head // alive-window + fired-pane MapStates
    Map(
      // NFA partial-match recovery: the CepProcessor's buffer ListState
      // + emitted-hash MapState restore mid-replay (the reference
      // checkpoints the SharedBuffer in CepOperator.java:82)
      s"q_fuzz_recover_c${ce.seed}" -> ((s, dir) =>
        CepQueries.cepStreamFuzzReplay(s, dir, ce,
          restartAfter = Some(restartBoundary(ce.seed)))),
      // allowed-lateness recovery: alive windows, fired-pane images, and
      // the persisted watermark restore — a lost pane image re-fires
      // wrong -U rows, a lost watermark re-admits dropped late rows
      s"q_fuzz_recover_lw${lw.seed}" -> ((s, dir) =>
        StreamQueries.streamLatenessFuzzReplay(s, dir, lw,
          restartAfter = Some(restartBoundary(lw.seed)))),
      s"q_fuzz_recover_j${j.seed}" -> ((s, dir) =>
        StreamQueries.streamJoinFuzzReplay(s, dir, j,
          restartAfter = Some(restartBoundary(j.seed)))),
      s"q_fuzz_recover_r${r.seed}" -> ((s, dir) =>
        StreamQueries.streamRetractFuzzReplay(s, dir, r,
          restartAfter = Some(restartBoundary(r.seed)))),
      s"q_fuzz_recover_tj${tj.seed}" -> ((s, dir) =>
        StreamQueries.streamTemporalFuzzReplay(s, dir, tj,
          restartAfter = Some(restartBoundary(tj.seed)))),
      s"q_fuzz_recover_w${w.seed}" -> ((s, dir) =>
        StreamQueries.streamFuzzReplay(s, dir, w,
          restartAfter = Some(restartBoundary(w.seed)))),
      // DOUBLE stop/restart — recovery from an already-recovered
      // checkpoint, session timers + watermark restoring twice
      s"q_fuzz_recover_s${se.seed}" -> ((s, dir) =>
        StreamQueries.streamSessionFuzzReplay(s, dir, se,
          restartBoundaries = Seq(1, 2))),
      s"q_fuzz_recover_t${tn.seed}" -> ((s, dir) =>
        StreamQueries.streamTopNFuzzReplay(s, dir, tn,
          restartAfter = Some(restartBoundary(tn.seed)))),
      // Fast Top-1's SINGLE-RECORD champion ValueState — a distinct
      // recovery shape from RetractableTopN's sorted-map state: a lost
      // champion re-emits +I without -U and the fold breaks
      {
        val t1 = t1Cases.find(_.arm == "top1").get
        s"q_fuzz_recover_top${t1.seed}" -> ((s, dir) =>
          StreamQueries.streamT1FuzzReplay(s, dir, t1,
            restartAfter = Some(restartBoundary(t1.seed)))): (String, QFn)
      },
      // broadcast rules MAP restored mid-replay: a lost PUT/REMOVE
      // makes every later data row read a stale rules image
      {
        val bc = broadcastCases.head
        s"q_fuzz_recover_bc${bc.seed}" -> ((s, dir) =>
          StreamQueries.streamBroadcastFuzzReplay(s, dir, bc,
            restartAfter = Some(restartBoundary(bc.seed)))): (String, QFn)
      },
      // temporal sort's buffered-rows MapState + COALESCED timer
      // (ptimer ValueState + registered event-time timer) restored
      // mid-replay: a lost buffer drops rows, a lost timer never
      // drains them, a re-armed-too-high timer emits out of order
      {
        val tc = tsortCases.head
        s"q_fuzz_recover_ts${tc.seed}" -> ((s, dir) =>
          StreamQueries.streamTsortFuzzReplay(s, dir, tc,
            restartAfter = Some(restartBoundary(tc.seed)))): (String, QFn)
      },
      // state surgery's RESUME leg restarted mid-replay: the query
      // bootstrapped from a rewritten offline savepoint stops at a
      // batch boundary and recovers — the initial-state handoff must
      // not re-apply on restart (a re-applied bootstrap doubles the
      // rewritten accumulators; a dropped one loses them)
      {
        val sg = surgeryCases.head
        s"q_fuzz_recover_sb${sg.seed}" -> ((s, dir) =>
          StreamQueries.streamSurgeryFuzzReplay(s, dir, sg,
            restartAfter = Some(restartBoundary(sg.seed)))): (String, QFn)
      })
  }

  private lazy val recoverOracles: Map[String, String] = {
    val j = joinCases.find(_.joinType == "full").get
    val r = retCases.head
    val tj = temporalCases.head
    val w = cases.head
    val se = sessCases.head
    val tn = topNCases.head
    val ce = cepCases.head
    val lw = latenessCases.head
    Map(
      s"q_fuzz_recover_c${ce.seed}" -> ce.oracleSql,
      s"q_fuzz_recover_lw${lw.seed}" -> lw.oracleSql,
      s"q_fuzz_recover_j${j.seed}" -> j.oracleSql,
      s"q_fuzz_recover_r${r.seed}" -> r.oracleSql,
      s"q_fuzz_recover_tj${tj.seed}" -> tj.oracleSql,
      s"q_fuzz_recover_w${w.seed}" -> w.oracleSql,
      s"q_fuzz_recover_s${se.seed}" -> se.oracleSql,
      s"q_fuzz_recover_t${tn.seed}" -> tn.oracleSql) ++ {
      val t1 = t1Cases.find(_.arm == "top1").get
      Map(s"q_fuzz_recover_top${t1.seed}" -> t1.oracleSql,
        s"q_fuzz_recover_bc${broadcastCases.head.seed}" ->
          broadcastCases.head.oracleSql,
        s"q_fuzz_recover_ts${tsortCases.head.seed}" ->
          tsortCases.head.oracleSql,
        s"q_fuzz_recover_sb${surgeryCases.head.seed}" ->
          surgeryCases.head.oracleSql)
    }
  }

  val oracles: Map[String, String] =
    cases.map(c => s"q_fuzz_stream_${c.seed}" -> c.oracleSql).toMap ++
    sessCases.map(c => s"q_fuzz_stream_s${c.seed}" -> c.oracleSql).toMap ++
    retCases.map(c => s"q_fuzz_stream_r${c.seed}" -> c.oracleSql).toMap ++
    topNCases.map(c => s"q_fuzz_stream_t${c.seed}" -> c.oracleSql).toMap ++
    cepCases.map(c => s"q_fuzz_cep_${c.seed}" -> c.oracleSql).toMap ++
    dedupCases.map(c => s"q_fuzz_stream_d${c.seed}" -> c.oracleSql).toMap ++
    joinCases.map(c => s"q_fuzz_stream_j${c.seed}" -> c.oracleSql).toMap ++
    temporalCases.map(c => s"q_fuzz_stream_tj${c.seed}" -> c.oracleSql).toMap ++
    quantCases.map(c => s"q_fuzz_cepq_${c.seed}" -> c.oracleSql).toMap ++
    relaxedCases.map(c => s"q_fuzz_cepr_${c.seed}" -> c.oracleSql).toMap ++
    mbCases.map(c => s"q_fuzz_stream_mb${c.seed}" -> c.oracleSql).toMap ++
    cdCases.map(c => s"q_fuzz_stream_cd${c.seed}" -> c.oracleSql).toMap ++
    sessDynCases.map(c =>
      s"q_fuzz_stream_sd${c.seed}" -> c.oracleSql).toMap ++
    surgeryCases.map(c =>
      s"q_fuzz_surgery_${c.seed}" -> c.oracleSql).toMap ++
    anyCases.map(c => s"q_fuzz_cepany_${c.seed}" -> c.oracleSql).toMap ++
    timeoutCases.map(c => s"q_fuzz_cepto_${c.seed}" -> c.oracleSql).toMap ++
    idleCases.map(c => s"q_fuzz_stream_wi${c.seed}" -> c.oracleSql).toMap ++
    wmAlignCases.map(c =>
      s"q_fuzz_stream_wa${c.seed}" -> c.oracleSql).toMap ++
    broadcastCases.map(c =>
      s"q_fuzz_stream_bc${c.seed}" -> c.oracleSql).toMap ++
    tsortCases.map(c =>
      s"q_fuzz_stream_ts${c.seed}" -> c.oracleSql).toMap ++
    t1Cases.map(c =>
      s"q_fuzz_stream_top${c.seed}" -> c.oracleSql).toMap ++
    intervalCases.map(c => s"q_fuzz_stream_iv${c.seed}" -> c.oracleSql).toMap ++
    winJoinCases.map(c => s"q_fuzz_stream_wj${c.seed}" -> c.oracleSql).toMap ++
    overCases.map(c => s"q_fuzz_stream_ov${c.seed}" -> c.oracleSql).toMap ++
    boundedOverCases.map(c =>
      s"q_fuzz_stream_ovb${c.seed}" -> c.oracleSql).toMap ++
    ptJoinCases.map(c => s"q_fuzz_stream_ptj${c.seed}" -> c.oracleSql).toMap ++
    cumulateCases.map(c => s"q_fuzz_stream_cu${c.seed}" -> c.oracleSql).toMap ++
    countWinCases.map(c => s"q_fuzz_stream_cw${c.seed}" -> c.oracleSql).toMap ++
    winRankCases.map(c => s"q_fuzz_stream_wr${c.seed}" -> c.oracleSql).toMap ++
    latenessCases.map(c => s"q_fuzz_stream_lw${c.seed}" -> c.oracleSql).toMap ++
    coGroupCases.map(c => s"q_fuzz_stream_cg${c.seed}" -> c.oracleSql).toMap ++
    recoverOracles

  /** Public replay front doors for the dev-side sweep
    * (graft.StreamFuzzDump — outside this package).
    */
  def replay(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.Case,
      restartAfter: Option[Int] = None): org.apache.spark.sql.DataFrame =
    StreamQueries.streamFuzzReplay(s, dir, c, restartAfter)

  def replaySession(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.SessionCase,
      restartAfter: Option[Int] = None,
      restartBoundaries: Seq[Int] = Nil): org.apache.spark.sql.DataFrame =
    StreamQueries.streamSessionFuzzReplay(s, dir, c, restartAfter,
      restartBoundaries)

  def replayRetract(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.RetractCase,
      restartAfter: Option[Int] = None,
      miniBatch: Boolean = false): org.apache.spark.sql.DataFrame =
    StreamQueries.streamRetractFuzzReplay(s, dir, c, restartAfter, miniBatch)

  def replayDistinct(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.DistinctCase,
      restartAfter: Option[Int] = None): org.apache.spark.sql.DataFrame =
    StreamQueries.streamDistinctFuzzReplay(s, dir, c, restartAfter)

  def replaySessionDyn(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.SessionDynCase,
      restartAfter: Option[Int] = None): org.apache.spark.sql.DataFrame =
    StreamQueries.streamSessionDynFuzzReplay(s, dir, c, restartAfter)

  def replaySurgery(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.SurgeryCase,
      restartAfter: Option[Int] = None): org.apache.spark.sql.DataFrame =
    StreamQueries.streamSurgeryFuzzReplay(s, dir, c, restartAfter)

  def replayTopN(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.TopNCase,
      restartAfter: Option[Int] = None): org.apache.spark.sql.DataFrame =
    StreamQueries.streamTopNFuzzReplay(s, dir, c, restartAfter)

  def replayCep(s: org.apache.spark.sql.SparkSession, dir: String,
      c: CepFuzzGen.Case): org.apache.spark.sql.DataFrame =
    CepQueries.cepFuzzReplay(s, dir, c)

  def replayDedup(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.DedupCase): org.apache.spark.sql.DataFrame =
    StreamQueries.streamDedupFuzzReplay(s, dir, c)

  def replayJoin(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.JoinCase,
      restartAfter: Option[Int] = None): org.apache.spark.sql.DataFrame =
    StreamQueries.streamJoinFuzzReplay(s, dir, c, restartAfter)

  def replayTemporal(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.TemporalCase,
      restartAfter: Option[Int] = None): org.apache.spark.sql.DataFrame =
    StreamQueries.streamTemporalFuzzReplay(s, dir, c, restartAfter)

  def replayQuant(s: org.apache.spark.sql.SparkSession, dir: String,
      c: CepFuzzGen.QuantCase): org.apache.spark.sql.DataFrame =
    CepQueries.cepQuantFuzzReplay(s, dir, c)

  def replayRelaxed(s: org.apache.spark.sql.SparkSession, dir: String,
      c: CepFuzzGen.RelaxedCase): org.apache.spark.sql.DataFrame =
    CepQueries.cepRelaxedFuzzReplay(s, dir, c)

  def replayAny(s: org.apache.spark.sql.SparkSession, dir: String,
      c: CepFuzzGen.AnyCase): org.apache.spark.sql.DataFrame =
    CepQueries.cepAnyFuzzReplay(s, dir, c)

  def replayTimeout(s: org.apache.spark.sql.SparkSession, dir: String,
      c: CepFuzzGen.TimeoutCase): org.apache.spark.sql.DataFrame =
    CepQueries.cepTimeoutFuzzReplay(s, dir, c)

  def replayIdle(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.IdleCase): org.apache.spark.sql.DataFrame =
    StreamQueries.streamIdleFuzzReplay(s, dir, c)

  def replayWmAlign(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.WmAlignCase): org.apache.spark.sql.DataFrame =
    StreamQueries.streamWmAlignFuzzReplay(s, dir, c)

  def replayBroadcast(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.BcCase,
      restartAfter: Option[Int] = None): org.apache.spark.sql.DataFrame =
    StreamQueries.streamBroadcastFuzzReplay(s, dir, c, restartAfter)

  def replayTsort(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.TsortCase,
      restartAfter: Option[Int] = None): org.apache.spark.sql.DataFrame =
    StreamQueries.streamTsortFuzzReplay(s, dir, c, restartAfter)

  def replayT1(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.T1Case,
      restartAfter: Option[Int] = None): org.apache.spark.sql.DataFrame =
    StreamQueries.streamT1FuzzReplay(s, dir, c, restartAfter)

  def replayInterval(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.IntervalCase): org.apache.spark.sql.DataFrame =
    StreamQueries.streamIntervalFuzzReplay(s, dir, c)

  def replayWinJoin(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.WinJoinCase): org.apache.spark.sql.DataFrame =
    StreamQueries.streamWinJoinFuzzReplay(s, dir, c)

  def replayOver(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.OverCase): org.apache.spark.sql.DataFrame =
    StreamQueries.streamOverFuzzReplay(s, dir, c)

  def replayBoundedOver(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.BoundedOverCase,
      restartAfter: Option[Int] = None): org.apache.spark.sql.DataFrame =
    StreamQueries.streamBoundedOverFuzzReplay(s, dir, c, restartAfter)

  def replayPtJoin(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.PtJoinCase): org.apache.spark.sql.DataFrame =
    StreamQueries.streamPtJoinFuzzReplay(s, dir, c)

  def replayCountWin(s: org.apache.spark.sql.SparkSession, dir: String,
      c: WindowFuzzGen.CountWinCase): org.apache.spark.sql.DataFrame =
    StreamQueries.streamCountWinFuzzReplay(s, dir, c)

  def replayLateness(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.LatenessCase,
      restartAfter: Option[Int] = None): org.apache.spark.sql.DataFrame =
    StreamQueries.streamLatenessFuzzReplay(s, dir, c, restartAfter)

  def replayCepStream(s: org.apache.spark.sql.SparkSession, dir: String,
      c: CepFuzzGen.Case,
      restartAfter: Option[Int] = None): org.apache.spark.sql.DataFrame =
    CepQueries.cepStreamFuzzReplay(s, dir, c, restartAfter)

  def replayCoGroup(s: org.apache.spark.sql.SparkSession, dir: String,
      c: StreamFuzzGen.CoGroupCase): org.apache.spark.sql.DataFrame =
    StreamQueries.streamCoGroupFuzzReplay(s, dir, c)
}
