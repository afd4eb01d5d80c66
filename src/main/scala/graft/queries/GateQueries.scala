package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.XFormulas._
import graft.queries.Shared._

/** The streaming gates (`graft.streaming`) driven as micro-batches over
  * per-dir fixture state: substring, semantic, boilerplate, changepoint
  * and spatial gates, with bucket migrations, epoch rolls and takedowns. */
object GateQueries {

  val all: Seq[QuerySpec] = Seq(
    // ----- STREAMING exact-substring gate, driven as two micro-batches
    // (even doc ids arrive first, odd second) over a DETERMINISTIC
    // THIRD of the corpus (doc_id % 3 = 0 — the oracle filters the same
    // slice): identical streaming semantics and exactly-once discipline
    // at a fraction of the quadratic substring truth, which at full
    // corpus made this the bench's heaviest query. Full-corpus parity
    // stays where it belongs: SubstrGateSpec per-batch prefixes +
    // GatePropertySpec random splits + the 30x ScaleSmoke row. The
    // cumulative run table must equal the one-shot batch operator over
    // the slice -----
    QuerySpec("q_substr_gate", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
      // RESET the exactly-once state: batch ids 0/1 from a prior
      // harness run would otherwise short-circuit the sink forever and
      // this query would keep returning the FIRST run's bytes — the
      // correctness gate must exercise the current code every sweep
      val paths = Seq("docs", "grams", "out")
        .map(p => freshFixture(s"subg_$p", dir))
      // nBuckets = 8: the state tables' bucket count is the join
      // parallelism FLOOR, sized for the data — at a third of sf0.1 the
      // 32-bucket layout pays more in write tasks/files than the join
      // recovers (the 30x probe keeps the default 32)
      val snk = graft.streaming.SubstrGate.sink(
        paths(0), paths(1), paths(2), "doc_id", "text", minLen = 30,
        nBuckets = 8)
      snk(docs.filter(col("doc_id") % 2 === 0), 0L)
      snk(docs.filter(col("doc_id") % 2 =!= 0), 1L)
      graft.sources.VersionedTable.read(s, paths(2))
    },
      // the streaming gate's cumulative table vs the one-shot truth
      // over the SAME deterministic slice the gate streams
      s"""${substrRunCtes(" WHERE doc_id % 3 = 0")}
           SELECT doc_a, doc_b, start_a, start_b, len FROM runs"""),

    // ----- the same gate with a BUCKET-COUNT MIGRATION mid-stream:
    // batch 0 lands in a 4-bucket layout, BucketedState.rebucket
    // re-shards both state tables to 8 exactly-once, batch 1 streams
    // against the migrated state. The rebucket is result-invisible by
    // contract, so the oracle is the one-shot dense truth over the
    // slice — a migration that lost, doubled, or mis-bucketed a single
    // state row hash-mismatches here every sweep -----
    QuerySpec("q_substr_gate_rebucket", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 2)
      val paths = Seq("docs", "grams", "out")
        .map(p => freshFixture(s"subrb_$p", dir))
      val snk = graft.streaming.SubstrGate.sink(
        paths(0), paths(1), paths(2), "doc_id", "text", minLen = 30,
        nBuckets = 4)
      snk(docs.filter(col("doc_id") % 2 === 0), 0L)
      graft.streaming.BucketedState.rebucket(s, paths(0), 8)
      graft.streaming.BucketedState.rebucket(s, paths(1), 8)
      snk(docs.filter(col("doc_id") % 2 =!= 0), 1L)
      graft.sources.VersionedTable.read(s, paths(2))
    },
      // mid-stream bucket migration is result-invisible: same dense
      // truth, different slice (the gate streams doc_id % 3 = 2)
      s"""${substrRunCtes(" WHERE doc_id % 3 = 2")}
           SELECT doc_a, doc_b, start_a, start_b, len FROM runs"""),

    // ----- the same gate with a TAKEDOWN mid-stream: two batches
    // ingest, SubstrGate.forget tombstones the doc_id % 5 = 0 subset
    // (including ids that have not arrived yet — a prospective
    // takedown), a third batch streams against the SERVED state, and
    // the result is SubstrGate.served. The oracle is the dense truth
    // over the slice MINUS the forgotten docs, so a forget that leaks
    // one pair — from emitted history, a forgotten stored row pairing
    // with a new arrival, or a forgotten NEW arrival pairing at all —
    // hash-mismatches every sweep -----
    QuerySpec("q_substr_forget", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 1)
      val paths = Seq("docs", "grams", "out")
        .map(p => freshFixture(s"subfg_$p", dir))
      val snk = graft.streaming.SubstrGate.sink(
        paths(0), paths(1), paths(2), "doc_id", "text", minLen = 30,
        nBuckets = 8)
      snk(docs.filter(col("doc_id") % 9 === 1), 0L)
      snk(docs.filter(col("doc_id") % 9 === 4), 1L)
      val fgt = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      graft.streaming.SubstrGate.forget(s, paths(0), paths(1), fgt, 0L)
      snk(docs.filter(col("doc_id") % 9 === 7), 2L)
      graft.streaming.SubstrGate.served(s, paths(0), paths(2))
    },
      // takedown mid-stream: the served output equals the dense truth
      // over the slice MINUS the forgotten docs (doc_id % 5 = 0) —
      // pairs from emitted history, forgotten-stored-vs-new-arrival,
      // and forgotten-new-arrival are all excluded
      s"""${substrRunCtes(" WHERE doc_id % 3 = 1 AND doc_id % 5 <> 0")}
           SELECT doc_a, doc_b, start_a, start_b, len FROM runs"""),

    // ----- STREAMING semantic-dedup gate (the sixth gate): embeddings
    // arrive in two micro-batches (even vec_ids train the frozen
    // quantizer, odd arrive second); every arrival is checked against
    // the pinned bucketed state through the PQ-ADC screen + exact-
    // cosine refine, and the cumulative pair table must equal the
    // frozen-quantizer batch operator (cellPairsFrozen) over the whole
    // corpus — the oracle replays the unit-normalized k-means on the
    // even half and the within-cell pair truth in SQL. Same state
    // reset discipline as q_substr_gate -----
    QuerySpec("q_sem_gate", (s, dir) => {
      // deterministic THIRD of the corpus (vec_id % 3 = 0; the oracle
      // filters the same slice) — the q_substr_gate bench discipline:
      // identical streaming semantics and exactly-once machinery at a
      // fraction of the quadratic within-cell pair truth. Full-corpus
      // parity lives in SemGateSpec + the GatePropertySpec sweep.
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      val paths = Seq("state", "out").map(p => freshFixture(s"semg_$p", dir))
      val snk = graft.streaming.SemGate.sink(paths(0), paths(1),
        "vec_id", "embedding", threshold = 0.3, nBuckets = 8)
      snk(emb.filter(col("vec_id") % 2 === 0), 0L)
      snk(emb.filter(col("vec_id") % 2 =!= 0), 1L)
      graft.sources.VersionedTable.read(s, paths(1))
    },
      // the streaming semantic gate's truth: the SAME unrolled Lloyd
      // chain, but over UNIT vectors and trained on the EVEN half (the
      // stream's first batch — the frozen quantizer), assignment over
      // everyone, then ALL within-cell pairs above the cosine
      // threshold (raw-vector cosine). The gate's PQ-ADC screen is
      // provably conservative + exact-refined, so the oracle never
      // replays the PQ.
      s"""WITH dv AS (SELECT vec_id, ${duckUnitVec("embedding")} AS v,
                               embedding FROM embeddings
                        WHERE vec_id % 3 = 0),
           init AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
                    FROM dv WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8),
           ${kmAssign("init", "a1", " AND vec_id % 2 = 0")},
           ${kmUpdate("a1", "init", "c1")},
           ${kmAssign("c1", "a2", " AND vec_id % 2 = 0")},
           ${kmUpdate("a2", "c1", "c2")},
           ${kmAssign("c2", "cc", "")}
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  ${duckCosine("ae.embedding", "be.embedding")} AS cosine
           FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id
           JOIN dv ae ON ae.vec_id = a.vec_id
           JOIN dv be ON be.vec_id = b.vec_id
           WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3"""),

    // ----- the semantic gate with an EPOCH ROLL mid-stream (production
    // SemDeDup's periodic re-cluster): two batches under the epoch-0
    // quantizer (trained on batch 0), rollEpoch retrains on everything
    // accumulated, re-encodes the state, emits the catch-up delta, and
    // flips; a third batch then streams against the NEW epoch. The
    // oracle replays BOTH unrolled Lloyd chains in SQL — old codebook
    // over the pre-roll prefix, new codebook over the full corpus —
    // and unions the two within-cell pair truths, which is exactly the
    // gate's cross-epoch output contract (SemGateSpec proves it; this
    // makes the DuckDB hash gate exercise the roll every sweep) -----
    QuerySpec("q_sem_gate_roll", (s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      val paths = Seq("state", "out")
        .map(p => freshFixture(s"semroll_$p", dir))
      val snk = graft.streaming.SemGate.sink(paths(0), paths(1),
        "vec_id", "embedding", threshold = 0.3, nBuckets = 8)
      snk(emb.filter(col("vec_id") % 2 === 0), 0L)
      snk(emb.filter(col("vec_id") % 4 === 1), 1L)
      graft.streaming.SemGate.rollEpoch(s, paths(0), paths(1),
        threshold = 0.3, fromEpoch = 0, nBuckets = 8)
      snk(emb.filter(col("vec_id") % 4 === 3), 2L)
      graft.sources.VersionedTable.read(s, paths(1))
    },
      // the epoch-roll gate's cross-epoch truth: chain OLD = quantizer
      // trained on batch 0 (even ids), assigned over the PRE-ROLL
      // prefix (% 4 <> 3); chain NEW = quantizer retrained at the roll
      // on that prefix (init = its 8 lowest ids), assigned over
      // EVERYONE; output = within-cell pairs of either chain, UNIONed
      // (identical rows dedup — a pair both codebooks co-locate has one
      // cosine). The gate streams vec_id % 3 = 1.
      s"""WITH dv AS (SELECT vec_id, ${duckUnitVec("embedding")} AS v,
                               embedding FROM embeddings
                        WHERE vec_id % 3 = 1),
           init_o AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
                      FROM dv WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8),
           ${kmAssign("init_o", "a1o", " AND vec_id % 2 = 0")},
           ${kmUpdate("a1o", "init_o", "c1o")},
           ${kmAssign("c1o", "a2o", " AND vec_id % 2 = 0")},
           ${kmUpdate("a2o", "c1o", "c2o")},
           ${kmAssign("c2o", "cco", " AND vec_id % 4 <> 3")},
           init_n AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
                      FROM dv WHERE vec_id % 4 <> 3 ORDER BY vec_id LIMIT 8),
           ${kmAssign("init_n", "a1n", " AND vec_id % 4 <> 3")},
           ${kmUpdate("a1n", "init_n", "c1n")},
           ${kmAssign("c1n", "a2n", " AND vec_id % 4 <> 3")},
           ${kmUpdate("a2n", "c1n", "c2n")},
           ${kmAssign("c2n", "ccn", "")},
           po AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                         ${duckCosine("ae.embedding", "be.embedding")} AS cosine
                  FROM cco a JOIN cco b ON a.cell = b.cell AND a.vec_id < b.vec_id
                  JOIN dv ae ON ae.vec_id = a.vec_id
                  JOIN dv be ON be.vec_id = b.vec_id
                  WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3),
           pn AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                         ${duckCosine("ae.embedding", "be.embedding")} AS cosine
                  FROM ccn a JOIN ccn b ON a.cell = b.cell AND a.vec_id < b.vec_id
                  JOIN dv ae ON ae.vec_id = a.vec_id
                  JOIN dv be ON be.vec_id = b.vec_id
                  WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3)
           SELECT id_a, id_b, cosine FROM po
           UNION
           SELECT id_a, id_b, cosine FROM pn"""),

    // ----- read-side EPOCH ATTRIBUTION of the rolled gate's pairs
    // (SemGate.pairsWithEpoch — a view over the commit history; the
    // committed output schema never carries the tag): same stream as
    // q_sem_gate_roll, output tagged by the epoch that emitted each
    // pair. The oracle replays both Lloyd chains and tags engine-
    // independently: a pair the OLD codebook co-locates over the
    // pre-roll prefix was emitted before the roll (epoch 0); everything
    // else the NEW codebook finds is the catch-up or post-roll stream
    // (epoch 1) — so a wrong boundary version, a mis-walked commit
    // snapshot, or a double-tagged pair hash-mismatches every sweep -----
    QuerySpec("q_sem_gate_epochs", (s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      val paths = Seq("state", "out")
        .map(p => freshFixture(s"semep_$p", dir))
      val snk = graft.streaming.SemGate.sink(paths(0), paths(1),
        "vec_id", "embedding", threshold = 0.3, nBuckets = 8)
      snk(emb.filter(col("vec_id") % 2 === 0), 0L)
      snk(emb.filter(col("vec_id") % 4 === 1), 1L)
      graft.streaming.SemGate.rollEpoch(s, paths(0), paths(1),
        threshold = 0.3, fromEpoch = 0, nBuckets = 8)
      snk(emb.filter(col("vec_id") % 4 === 3), 2L)
      graft.streaming.SemGate.pairsWithEpoch(s, paths(0), paths(1))
    },
      // epoch attribution over the same two chains: a pair the OLD
      // codebook co-locates over the pre-roll prefix was emitted
      // before the roll -> epoch 0; the NEW codebook's remaining pairs
      // (catch-up + post-roll stream) -> epoch 1. EXCEPT on the full
      // row is sound: a pair both codebooks find has ONE cosine.
      s"""WITH dv AS (SELECT vec_id, ${duckUnitVec("embedding")} AS v,
                               embedding FROM embeddings
                        WHERE vec_id % 3 = 1),
           init_o AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
                      FROM dv WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8),
           ${kmAssign("init_o", "a1o", " AND vec_id % 2 = 0")},
           ${kmUpdate("a1o", "init_o", "c1o")},
           ${kmAssign("c1o", "a2o", " AND vec_id % 2 = 0")},
           ${kmUpdate("a2o", "c1o", "c2o")},
           ${kmAssign("c2o", "cco", " AND vec_id % 4 <> 3")},
           init_n AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
                      FROM dv WHERE vec_id % 4 <> 3 ORDER BY vec_id LIMIT 8),
           ${kmAssign("init_n", "a1n", " AND vec_id % 4 <> 3")},
           ${kmUpdate("a1n", "init_n", "c1n")},
           ${kmAssign("c1n", "a2n", " AND vec_id % 4 <> 3")},
           ${kmUpdate("a2n", "c1n", "c2n")},
           ${kmAssign("c2n", "ccn", "")},
           po AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                         ${duckCosine("ae.embedding", "be.embedding")} AS cosine
                  FROM cco a JOIN cco b ON a.cell = b.cell AND a.vec_id < b.vec_id
                  JOIN dv ae ON ae.vec_id = a.vec_id
                  JOIN dv be ON be.vec_id = b.vec_id
                  WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3),
           pn AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                         ${duckCosine("ae.embedding", "be.embedding")} AS cosine
                  FROM ccn a JOIN ccn b ON a.cell = b.cell AND a.vec_id < b.vec_id
                  JOIN dv ae ON ae.vec_id = a.vec_id
                  JOIN dv be ON be.vec_id = b.vec_id
                  WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3)
           SELECT id_a, id_b, cosine, CAST(0 AS BIGINT) AS epoch FROM po
           UNION ALL
           SELECT id_a, id_b, cosine, CAST(1 AS BIGINT) AS epoch
           FROM (SELECT * FROM pn EXCEPT SELECT * FROM po)"""),

    // ----- the semantic gate with a TAKEDOWN mid-stream: two batches
    // under the epoch-0 quantizer, SemGate.forget tombstones the
    // vec_id % 7 = 0 subset (prospectively — some of those ids arrive
    // only in batch 2), a third batch streams against the SERVED
    // state, and the result is SemGate.served. The oracle replays the
    // same Lloyd chain (trained on batch 0 INCLUDING the soon-
    // forgotten ids — a forget never retrains a frozen quantizer) and
    // excludes the forgotten ids from the pair truth only -----
    QuerySpec("q_sem_forget", (s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 2)
      val paths = Seq("state", "out")
        .map(p => freshFixture(s"semfg_$p", dir))
      val snk = graft.streaming.SemGate.sink(paths(0), paths(1),
        "vec_id", "embedding", threshold = 0.3, nBuckets = 8)
      snk(emb.filter(col("vec_id") % 2 === 0), 0L)
      snk(emb.filter(col("vec_id") % 4 === 1), 1L)
      val fgt = emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      graft.streaming.SemGate.forget(s, paths(0), fgt, 0L)
      snk(emb.filter(col("vec_id") % 4 === 3), 2L)
      graft.streaming.SemGate.served(s, paths(0), paths(1))
    },
      // takedown mid-stream: the SAME Lloyd chain (the quantizer was
      // trained on batch 0 including the soon-forgotten ids — a forget
      // never retrains a frozen codebook), with the forgotten ids
      // (vec_id % 7 = 0) excluded from the pair truth only
      s"""WITH dv AS (SELECT vec_id, ${duckUnitVec("embedding")} AS v,
                               embedding FROM embeddings
                        WHERE vec_id % 3 = 2),
           init AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, v AS c
                    FROM dv WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8),
           ${kmAssign("init", "a1", " AND vec_id % 2 = 0")},
           ${kmUpdate("a1", "init", "c1")},
           ${kmAssign("c1", "a2", " AND vec_id % 2 = 0")},
           ${kmUpdate("a2", "c1", "c2")},
           ${kmAssign("c2", "cc", "")}
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  ${duckCosine("ae.embedding", "be.embedding")} AS cosine
           FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id
           JOIN dv ae ON ae.vec_id = a.vec_id
           JOIN dv be ON be.vec_id = b.vec_id
           WHERE ${duckCosine("ae.embedding", "be.embedding")} >= 0.3
             AND a.vec_id % 7 <> 0 AND b.vec_id % 7 <> 0"""),

    // ----- the streaming CUSUM gate under the hash gate (the sixth
    // and last gate to get an oracle query): three event micro-batches
    // fold into the MergeState daily-count deltas — compactEvery=2, so
    // the TIERED COMPACTION fold runs inside the fixture every sweep —
    // and the final committed readout must equal the batch operator's
    // CUSUM over the whole corpus (the same SQL truth as q_cusum): a
    // lost delta, a double-counted replay, or a fold that changed any
    // judged count hash-mismatches -----
    QuerySpec("q_changepoint_gate", (s, dir) => {
      val paths = Seq("state", "out")
        .map(p => freshFixture(s"cpgate_$p", dir))
      val ev = t(s, dir, "events")
      val snk = graft.streaming.ChangepointGate.sink(paths(0), paths(1),
        "event_type", compactEvery = 2)
      snk(ev.filter(col("event_id") % 3 === 0), 0L)
      snk(ev.filter(col("event_id") % 3 === 1), 1L)
      snk(ev.filter(col("event_id") % 3 === 2), 2L)
      graft.sources.VersionedTable.read(s, paths(1))
    },
      cusumOracle),

    // ----- the CUSUM gate with a TAKEDOWN mid-stream — the MergeState
    // retraction (negative delta on the additive CRDT): two event
    // batches ingest, ChangepointGate.forget negates the error/signup
    // keys' entire merged history, a third batch streams (and those
    // keys RE-ARRIVE in it — their counts restart from the retraction
    // zero), and the committed readout is the CUSUM truth over all
    // events minus the forgotten keys' pre-forget history. A leaked
    // positive row, a double-applied negation, or a zero-row served as
    // presence hash-mismatches every sweep -----
    QuerySpec("q_changepoint_forget", (s, dir) => {
      val paths = Seq("state", "out")
        .map(p => freshFixture(s"cpfg_$p", dir))
      val ev = t(s, dir, "events")
      val snk = graft.streaming.ChangepointGate.sink(paths(0), paths(1),
        "event_type", compactEvery = 2)
      snk(ev.filter(col("event_id") % 3 === 0), 0L)
      snk(ev.filter(col("event_id") % 3 === 1), 1L)
      graft.streaming.ChangepointGate.forget(s, paths(0), "event_type",
        Seq("error", "signup"), 0L)
      snk(ev.filter(col("event_id") % 3 === 2), 2L)
      graft.sources.VersionedTable.read(s, paths(1))
    },
      // takedown on the CUSUM gate's CRDT state: the negation wipes
      // error/signup history from batches 0-1; batch 2's re-arrivals
      // of those keys count fresh — so the truth is all events except
      // the forgotten keys' pre-forget (batch 0/1) slice
      """WITH d AS (SELECT event_type,
                    epoch_us(ts) // 86400000000 AS day,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM events
             WHERE event_type NOT IN ('error', 'signup')
                OR event_id % 3 = 2
             GROUP BY 1, 2),
           w AS (SELECT event_type, day, n,
                    COUNT(*) OVER (PARTITION BY event_type) AS dd,
                    SUM(n) OVER (PARTITION BY event_type) AS total,
                    SUM(n) OVER (PARTITION BY event_type
                                 ORDER BY day) AS cum,
                    ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY day) AS idx
                 FROM d)
           SELECT event_type, day, n,
                  CAST(dd * cum - idx * total AS BIGINT) AS dev_fx,
                  abs(dd * cum - idx * total) =
                    MAX(abs(dd * cum - idx * total))
                      OVER (PARTITION BY event_type) AS is_peak
           FROM w"""),

    // ----- the STREAMING boilerplate gate inside the hash gate: three
    // micro-batches (doc_id % 3), each doc excised against the corpus
    // UP TO AND INCLUDING its own batch — the prefix-fold semantics.
    // The oracle replays the fold in SQL: per-(hash, batch) distinct-doc
    // counts, summed cumulatively over batches, each doc judged at its
    // own batch's cumulative support. A gate that judged against the
    // full corpus (retroactive), or against only the prior prefix
    // (exclusive), hash-mismatches every sweep. compactEvery=2 folds
    // tiered runs inside the fixture -----
    QuerySpec("q_boilerplate_gate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val paths = Seq("freq", "out").map(p => freshFixture(s"bpg_$p", dir))
      val snk = graft.streaming.BoilerplateGate.sink(paths(0), paths(1),
        "doc_id", "text", chunkTokens = 10, minDocs = 3, nBuckets = 8,
        compactEvery = 2)
      (0 until 3).foreach(b =>
        snk(docs.filter(col("doc_id") % 3 === b), b.toLong))
      graft.sources.VersionedTable.read(s, paths(1))
    },
      // streaming prefix fold: per-(hash, batch) distinct-doc counts
      // summed cumulatively; each doc judged at ITS batch's support
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           ex AS (SELECT doc_id, toks,
                  unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS pos
                FROM tk WHERE len(toks) >= 1),
           ch AS (SELECT doc_id, pos,
                  array_to_string(toks[(pos * 10 + 1):(pos * 10 + 10)], ' ') AS chunk
                FROM ex),
           hs AS (SELECT doc_id, pos, chunk, ${duckStrHash("chunk")} AS h,
                  doc_id % 3 AS b FROM ch),
           hb AS (SELECT h, b, COUNT(DISTINCT doc_id) AS c
                  FROM hs GROUP BY 1, 2),
           cum AS (SELECT h, b, SUM(c) OVER (PARTITION BY h ORDER BY b) AS sup
                   FROM hb),
           fl AS (SELECT hs.doc_id, hs.pos, hs.chunk,
                  (cum.sup >= 3) AS boiler
                FROM hs JOIN cum ON hs.h = cum.h AND hs.b = cum.b)
           SELECT doc_id,
                  COALESCE(array_to_string(
                    list(chunk ORDER BY pos) FILTER (WHERE NOT boiler), ' '),
                    '') AS clean_text,
                  CAST(COUNT(*) FILTER (WHERE NOT boiler) AS BIGINT) AS n_kept,
                  CAST(COUNT(*) FILTER (WHERE boiler) AS BIGINT) AS n_boiler
           FROM fl GROUP BY doc_id"""),

    // ----- the same gate with a TAKEDOWN mid-stream, composing BOTH
    // forget mechanisms: BoilerplateGate.forget retracts the forgotten
    // docs' segment support from the frequency CRDT (doc-level negative
    // delta), and VersionedTable.deleteWhere physically removes their
    // already-emitted rows from the output (the versioned targeted
    // delete). Batch 2 is then judged against the decremented support.
    // The oracle: all docs minus the forgotten (batch ≤ 1, doc_id % 5
    // = 0) rows; batch-0/1 docs judged at the normal cumulative
    // support (they were emitted pre-forget); batch-2 docs at the
    // cumulative support MINUS the forgotten docs' contributions -----
    QuerySpec("q_boilerplate_forget", (s, dir) => {
      val docs = t(s, dir, "documents")
      val paths = Seq("freq", "out").map(p => freshFixture(s"bpf_$p", dir))
      val snk = graft.streaming.BoilerplateGate.sink(paths(0), paths(1),
        "doc_id", "text", chunkTokens = 10, minDocs = 3, nBuckets = 8,
        compactEvery = 2)
      snk(docs.filter(col("doc_id") % 3 === 0), 0L)
      snk(docs.filter(col("doc_id") % 3 === 1), 1L)
      val fgt = docs.filter(col("doc_id") % 5 === 0 &&
        col("doc_id") % 3 < 2)
      graft.streaming.BoilerplateGate.forget(s, paths(0), fgt,
        "doc_id", "text", chunkTokens = 10, forgetId = 0L)
      graft.sources.VersionedTable.deleteWhere(s, paths(1),
        col("doc_id") % 5 === 0)
      snk(docs.filter(col("doc_id") % 3 === 2), 2L)
      graft.sources.VersionedTable.read(s, paths(1))
    },
      // takedown: forgotten rows (batch <= 1, doc_id % 5 = 0) deleted
      // from the output; batch-2 docs judged at the cumulative support
      // MINUS the forgotten docs' contributions (the CRDT negation)
      s"""WITH tk AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
           ex AS (SELECT doc_id, toks,
                  unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS pos
                FROM tk WHERE len(toks) >= 1),
           ch AS (SELECT doc_id, pos,
                  array_to_string(toks[(pos * 10 + 1):(pos * 10 + 10)], ' ') AS chunk
                FROM ex),
           hs AS (SELECT doc_id, pos, chunk, ${duckStrHash("chunk")} AS h,
                  doc_id % 3 AS b FROM ch),
           hb AS (SELECT h, b, COUNT(DISTINCT doc_id) AS c
                  FROM hs GROUP BY 1, 2),
           cum AS (SELECT h, b, SUM(c) OVER (PARTITION BY h ORDER BY b) AS sup
                   FROM hb),
           fb AS (SELECT h, COUNT(DISTINCT doc_id) AS fc FROM hs
                  WHERE doc_id % 5 = 0 AND b < 2 GROUP BY h),
           fl AS (SELECT hs.doc_id, hs.pos, hs.chunk,
                  (cum.sup - CASE WHEN hs.b = 2 THEN COALESCE(fb.fc, 0)
                             ELSE 0 END >= 3) AS boiler
                FROM hs JOIN cum ON hs.h = cum.h AND hs.b = cum.b
                LEFT JOIN fb ON hs.h = fb.h)
           SELECT doc_id,
                  COALESCE(array_to_string(
                    list(chunk ORDER BY pos) FILTER (WHERE NOT boiler), ' '),
                    '') AS clean_text,
                  CAST(COUNT(*) FILTER (WHERE NOT boiler) AS BIGINT) AS n_kept,
                  CAST(COUNT(*) FILTER (WHERE boiler) AS BIGINT) AS n_boiler
           FROM fl
           WHERE NOT (doc_id % 5 = 0 AND doc_id % 3 < 2)
           GROUP BY doc_id"""),

    // ----- STREAMING SPATIAL GATE, driven as two micro-batches: the
    // even-key points arrive first (intra-batch pairs only), the odd
    // keys second (their pairs split across intra and cross-vs-stored
    // candidates; SpatialGate pins the pre-batch state snapshot on
    // replay). The cumulative pair table must equal the ONE-SHOT batch
    // radius join over all points — the same naive-quadratic oracle as
    // q_spatial_join; SpatialGateSpec asserts the prefix property per
    // batch and the exactly-once replays -----
    QuerySpec("q_spatial_gate", (s, dir) => {
      // reset the exactly-once state — see q_substr_gate's note
      val statePath = freshFixture("sgate_state", dir)
      val outPath = freshFixture("sgate_out", dir)
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS id",
        "(c_custkey * 37) % 1000 AS x",
        "(c_custkey * 91) % 1000 AS y")
      val snk = graft.streaming.SpatialGate.sink(statePath, outPath,
        "id", "x", "y", radius = 25L, cell = 25L)
      snk(pts.filter(col("id") % 2 === 0), 0L)
      snk(pts.filter(col("id") % 2 =!= 0), 1L)
      graft.sources.VersionedTable.read(s, outPath)
    },
      spatialPairsTruth)
  )
}
