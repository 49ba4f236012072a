"""Property-based tests (hypothesis) for the engine-internal invariants
that golden fixtures can't sweep: assignment-split algebra, exact
decimal aggregation vs true rational arithmetic, and sequence-number
ordering semantics. (The reference has no property tests — SURVEY.md §5
— this goes beyond its strategy where cheap.)"""

from __future__ import annotations

from fractions import Fraction

from hypothesis import example, given, settings, strategies as st

from kinesumer_spark.streaming.assignment import full_assignment, split_shard_ids
from kinesumer_spark.streaming.envelope import N_SHARDS


@settings(max_examples=200, deadline=None)
@given(
    n_shards=st.integers(min_value=0, max_value=200),
    n_clients=st.integers(min_value=1, max_value=50),
)
def test_assignment_partitions_exactly(n_shards, n_clients):
    """The range split is a partition: concatenating every client's slice
    in client order reproduces the shard list exactly (no loss, no
    overlap, order preserved) — for ALL sizes, not just the goldens."""
    shards = [f"shardId-{i:012d}" for i in range(n_shards)]
    parts = [split_shard_ids(shards, i, n_clients) for i in range(n_clients)]
    assert [s for p in parts for s in p] == shards


@settings(max_examples=100, deadline=None)
@given(
    shard_ids=st.lists(st.text(min_size=1, max_size=8), max_size=20, unique=True),
    client_ids=st.lists(
        st.text(min_size=1, max_size=8), min_size=1, max_size=8, unique=True
    ),
)
def test_assignment_is_client_order_invariant(shard_ids, client_ids):
    """full_assignment sorts clients first (statestore.go:121 order), so
    the mapping is independent of input order — the property that makes
    every client compute the same assignment independently."""
    import random

    shuffled = list(client_ids)
    random.Random(0).shuffle(shuffled)
    assert full_assignment(shard_ids, client_ids) == full_assignment(
        shard_ids, shuffled
    )


# money-like decimals: up to 12 integer digits, 6 decimal places —
# the documented domain of functions.exact.DEC
_money = st.decimals(
    min_value=-(10**12), max_value=10**12, places=6, allow_nan=False
)


@settings(max_examples=200, deadline=None)
@given(values=st.lists(_money, min_size=1, max_size=50))
def test_exact_decimal_sum_is_order_independent_and_true(values):
    """Summing DECIMAL(18,6) values is exact (equals Fraction arithmetic)
    and permutation-invariant — the invariant the whole oracle-equality
    strategy rests on. (Pure-python model of the Spark/DuckDB decimal
    semantics; the engines' conformance is covered by the oracle gate.)"""
    from decimal import Decimal

    fwd = sum((Decimal(v) for v in values), Decimal(0))
    rev = sum((Decimal(v) for v in reversed(values)), Decimal(0))
    true = sum((Fraction(v) for v in values), Fraction(0))
    assert fwd == rev
    assert Fraction(fwd) == true


@settings(max_examples=200, deadline=None)
@given(ids=st.lists(st.integers(min_value=0, max_value=10**18), min_size=2, unique=True))
def test_sequence_number_padding_preserves_numeric_order(ids):
    """Zero-padded 21-digit strings order lexicographically exactly like
    the underlying integers — the property that lets checkpoints compare
    sequence numbers as strings (statemodel.go:51 semantics)."""
    padded = [f"{i:021d}" for i in ids]
    assert sorted(padded) == [f"{i:021d}" for i in sorted(ids)]


@settings(max_examples=200, deadline=None)
@given(key=st.integers(min_value=-(10**9), max_value=10**9))
def test_shard_assignment_is_stable_and_in_range(key):
    """pmod-based shard routing: every partition key lands on exactly one
    of the N shards, consistently (the Kinesis key→shard contract the
    envelope mirrors)."""
    shard = ((key % N_SHARDS) + N_SHARDS) % N_SHARDS
    assert 0 <= shard < N_SHARDS
    assert shard == ((key % N_SHARDS) + N_SHARDS) % N_SHARDS


@settings(max_examples=200, deadline=None)
@given(
    nums=st.lists(
        st.integers(min_value=0, max_value=10**60), min_size=1, max_size=20
    )
)
def test_commit_ledger_length_then_lex_max_is_numeric_max(nums):
    """The commit ledger's high-water mark uses max_by(struct(length(s),
    s)) over UNPADDED decimal strings (engine.py:227-236) because Kinesis
    sequence numbers exceed decimal(38,0). Property: (length, lex) max ==
    numeric max for any widths, including > 38 digits — plain lex max
    would rank '9' above '10'."""
    strs = [str(n) for n in nums]
    by_len_lex = max(strs, key=lambda s: (len(s), s))
    assert int(by_len_lex) == max(nums)


@given(
    n_frames=st.integers(min_value=1, max_value=40),
    n_ch=st.integers(min_value=1, max_value=4),
    rate=st.sampled_from([8000, 16000, 44100, 48000]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_any_pcm16_payload(n_frames, n_ch, rate, seed):
    """encode_wav∘decode_wav == identity for arbitrary PCM16 content,
    shapes, and rates — not just the closed-form synth corpus."""
    import numpy as np

    from kinesumer_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(seed)
    s = rng.integers(-(2**15), 2**15, size=(n_frames, n_ch), dtype=np.int64).astype(
        np.int16
    )
    r2, back = decode_wav(encode_wav(s, rate))
    assert r2 == rate
    assert np.array_equal(back, s)


@given(
    n=st.integers(min_value=1, max_value=6),
    h=st.integers(min_value=1, max_value=8),
    w=st.integers(min_value=1, max_value=8),
    fps=st.sampled_from([24, 25, 30]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_y4m_roundtrip_any_luma_stack(n, h, w, fps, seed):
    """encode_y4m∘decode_y4m == identity for arbitrary luma content and
    (even) dimensions."""
    import numpy as np

    from kinesumer_spark.operators.multimodal import decode_y4m, encode_y4m

    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(n, h * 2, w * 2), dtype=np.int64).astype(
        np.uint8
    )
    fps2, back = decode_y4m(encode_y4m(frames, fps=fps))
    assert fps2 == fps
    assert np.array_equal(back, frames)


@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    oh=st.integers(min_value=1, max_value=12),
    ow=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_resize_nearest_matches_naive_loop(h, w, oh, ow, seed):
    """resize_nearest's vectorized index map must equal the elementwise
    floor-sampling definition for ANY dims (incl. up- and down-scaling)."""
    import numpy as np

    from kinesumer_spark.operators.multimodal import resize_nearest

    rng = np.random.default_rng(seed)
    pix = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    got = resize_nearest(pix, oh, ow)
    assert got.shape == (oh, ow, 3)
    for ry in range(oh):
        for rx in range(ow):
            assert (got[ry, rx] == pix[(ry * h) // oh, (rx * w) // ow]).all()


@given(
    tokens=st.lists(st.integers(min_value=1, max_value=900), min_size=1, max_size=120),
    block=st.integers(min_value=1, max_value=50),
)
@settings(max_examples=30, deadline=None)
def test_two_pass_prefix_sum_is_block_size_invariant(tokens, block):
    """The pack_sequences offsets must not depend on the block size —
    the two-pass decomposition is an implementation detail. Replayed in
    plain Python (the Spark form is oracle-checked separately): per-block
    totals + block prefixes + within-block cumsum == global cumsum."""
    n = len(tokens)
    blocks: dict[int, list[int]] = {}
    for i, t in enumerate(tokens):
        blocks.setdefault(i // block, []).append(t)
    prefix, acc = {}, 0
    for b in sorted(blocks):
        prefix[b] = acc
        acc += sum(blocks[b])
    got = []
    for b in sorted(blocks):
        run = prefix[b]
        for t in blocks[b]:
            got.append(run)
            run += t
    want, acc2 = [], 0
    for t in tokens:
        want.append(acc2)
        acc2 += t
    assert got == want


def test_cusum_reflected_walk_identity():
    """The identity events_changepoint_cusum relies on: for any integer
    deviation series, max(0, S_prev + d) recursion equals
    C_h - min(0, min_{j<=h} C_j) with C the plain cumulative sum."""
    import random

    rng = random.Random(7)
    for _ in range(200):
        n = rng.randrange(1, 40)
        d = [rng.randrange(-50, 50) for _ in range(n)]
        s, direct = 0, []
        for x in d:
            s = max(0, s + x)
            direct.append(s)
        c, cmin, via_walk = 0, 0, []
        for x in d:
            c += x
            cmin = min(cmin, c)
            via_walk.append(c - min(0, cmin))
        assert direct == via_walk


# -- BPE pipe-doubled string-replace encoding vs list-based reference --------

def _bpe_reference_merge(tokens: list[str], pair: tuple[str, str]) -> list[str]:
    """Classic greedy left-to-right BPE merge over a token list."""
    out: list[str] = []
    i = 0
    while i < len(tokens):
        if (
            i + 1 < len(tokens)
            and tokens[i] == pair[0]
            and tokens[i + 1] == pair[1]
        ):
            out.append(pair[0] + pair[1])
            i += 2
        else:
            out.append(tokens[i])
            i += 1
    return out


def _encode(tokens: list[str]) -> str:
    return "||" + "||".join(tokens) + "||"


def _string_merge(s: str, pair: tuple[str, str]) -> str:
    """The engine's formulation (operators/text.py text_bpe_train):
    Python str.replace is leftmost non-overlapping sequential — the
    same contract as Spark's and DuckDB's replace()."""
    a, b = pair
    return s.replace(f"|{a}||{b}|", f"|{a}{b}|")


@settings(max_examples=300, deadline=None)
@given(
    word=st.lists(
        st.sampled_from("ab"), min_size=1, max_size=12
    ),
    merges=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "ab", "ba", "aa", "bb"]),
            st.sampled_from(["a", "b", "ab", "ba", "aa", "bb"]),
        ),
        max_size=4,
    ),
)
def test_bpe_string_replace_equals_list_merge(word, merges):
    """The pipe-doubled replace encoding must implement EXACTLY the
    classic list-based greedy merge, for any word and any merge chain —
    including the adjacent-overlap ('a a a' with merge (a,a)) and
    multi-char-symbol cases the docstrings reason about."""
    tokens = list(word)
    s = _encode(tokens)
    for pair in merges:
        tokens = _bpe_reference_merge(tokens, pair)
        s = _string_merge(s, pair)
        assert s == _encode(tokens), (word, merges, pair, s, tokens)


# -- ledger "ahead" predicate ≡ _seq_order_key ------------------------------

@settings(max_examples=300, deadline=None)
@given(
    a=st.integers(min_value=0, max_value=10**24),
    b=st.integers(min_value=0, max_value=10**24),
)
def test_ahead_predicate_matches_numeric_order(a, b):
    """The SQL length-then-lex predicate the lag/replay path uses must
    agree with numeric order for ANY pair of unpadded decimal strings
    (Kinesis sequence numbers exceed every fixed-width type, so the
    engine never parses them)."""
    from kinesumer_spark.streaming.engine import Engine

    sa, sb = str(a), str(b)
    # replicate _AHEAD_SQL in Python: sequence_number=sa, committed=sb
    ahead = (len(sa) > len(sb)) or (len(sa) == len(sb) and sa > sb)
    assert ahead == (a > b)
    assert (Engine._seq_order_key(sa) > Engine._seq_order_key(sb)) == (a > b)


# -- rotation policy (front_order) ------------------------------------------

_STATUS = st.sampled_from(["green", "red", "no_oracle"])


@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_front_order_policy_invariants(data):
    """For ANY evidence map, front_order must (1) be a permutation,
    (2) put every non-green external record before everything else,
    (3) put never-checked queries before green ones, (4) order green
    ones oldest-round-first, and (5) be deterministic + stable (ties
    keep registration order)."""
    from kinesumer_spark.registry import front_order

    n = data.draw(st.integers(min_value=0, max_value=60))
    names = [f"q{i:03d}" for i in range(n)]
    evidence = {}
    for name in names:
        if data.draw(st.booleans()):
            evidence[name] = {
                "round": data.draw(st.integers(min_value=1, max_value=9)),
                "status": data.draw(_STATUS),
            }

    ordered = front_order(names, evidence)
    assert sorted(ordered) == sorted(names)  # permutation
    assert ordered == front_order(names, evidence)  # deterministic

    def bucket(nm):
        ev = evidence.get(nm)
        if ev is None:
            return 1
        return 0 if ev["status"] != "green" else 2

    buckets = [bucket(nm) for nm in ordered]
    assert buckets == sorted(buckets)
    green_rounds = [evidence[nm]["round"] for nm in ordered if bucket(nm) == 2]
    assert green_rounds == sorted(green_rounds)
    # stability: within equal (bucket, round) keys, registration order
    idx = {nm: i for i, nm in enumerate(names)}

    def key(nm):
        ev = evidence.get(nm)
        rnd = ev["round"] if ev else 0
        return (bucket(nm), rnd)

    for a, b in zip(ordered, ordered[1:]):
        if key(a) == key(b):
            assert idx[a] < idx[b]


@given(
    st.text(st.characters(codec="utf-8"), min_size=0, max_size=40),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=60, deadline=None)
def test_sink_shard_ring_matches_oracle_sql(key, n_shards):
    """The sink_putrecords_roundtrip oracle replays _shard_of's
    sha256-prefix hash ring in DuckDB SQL (hex chars folded with
    16**(7-i), exact in doubles since 16^8 < 2^53). Property: the SQL
    fold equals the Python ring for ARBITRARY partition keys and shard
    counts, not just the events fixture's user_ids — so the registered
    oracle's hash arithmetic cannot silently diverge. The key is bound
    as a parameter, exactly like the registered oracle feeds keys from
    a column."""
    import duckdb

    from kinesumer_spark.sources.python_source import _shard_of

    sql = f"""
    SELECT CAST(list_sum(list_transform(range(8),
             i -> (strpos('0123456789abcdef',
                          substr(sha256(?), i + 1, 1)) - 1)
                  * 16**(7 - i))) AS BIGINT) % {n_shards}
    """
    got = duckdb.execute(sql, [key]).fetchone()[0]
    assert got == _shard_of(key, n_shards)


def _registry_prop_server():
    # one shared wire endpoint for the whole property run; per-example
    # isolation comes from a unique app namespace (client#<app> keys)
    from kinesumer_spark.sources.dynamo_wire import FakeDynamoServer

    global _REG_SRV
    try:
        return _REG_SRV
    except NameError:
        _REG_SRV = FakeDynamoServer().__enter__()
        return _REG_SRV


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["register", "ping", "deregister", "prune"]),
            st.integers(min_value=0, max_value=3),
            st.floats(min_value=0.0, max_value=15.0),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=40, deadline=None)
def test_dynamo_registry_matches_model(ops):
    """Property: for ARBITRARY interleavings of register / heartbeat /
    deregister / prune under arbitrary clock advances, the wire store's
    alive listing equals a plain-dict model of the reference semantics
    (statestore.go:111-221): alive = last_update STRICTLY greater than
    now-10s in ascending id order; prune deletes exactly the rows
    STRICTLY older than now-10s (the boundary row is neither alive nor
    prunable — Filter `>` vs prune `<`)."""
    import uuid

    from kinesumer_spark.sources.dynamo_wire import (
        OUTDATED_GAP,
        DynamoStateStore,
    )

    srv = _registry_prop_server()
    clock = [1000.0]
    store = DynamoStateStore(
        srv.url, f"prop-{uuid.uuid4().hex[:12]}", clock=lambda: clock[0]
    )
    model: dict[str, float] = {}
    for kind, idx, dt in ops:
        clock[0] += dt
        cid = f"c-{idx}"
        if kind == "register":
            store.register_client(cid)
            model[cid] = clock[0]
        elif kind == "ping":
            # reference pings only registered clients; UpdateItem would
            # upsert, so the port mirrors the caller contract
            if cid in model:
                store.ping_client_aliveness(cid)
                model[cid] = clock[0]
        elif kind == "deregister":
            store.deregister_client(cid)
            model.pop(cid, None)
        elif kind == "prune":
            expect = sorted(
                c
                for c, t in model.items()
                if t < clock[0] - OUTDATED_GAP
            )
            got = sorted(store.prune_clients())
            assert got == expect, (got, expect)
            for c in expect:
                del model[c]
        alive = store.list_all_alive_client_ids()
        want = sorted(
            c for c, t in model.items() if t > clock[0] - OUTDATED_GAP
        )
        assert alive == want, (kind, alive, want)


# -- Wire fault recovery: delivery invariant under ANY fault cadence --------


@settings(max_examples=12, deadline=None)
@given(
    n_records=st.integers(min_value=1, max_value=60),
    max_page=st.integers(min_value=1, max_value=11),
    expire_every=st.integers(min_value=2, max_value=6),
)
def test_wire_expiry_recovery_delivery_invariant(
    n_records, max_page, expire_every
):
    """For ANY feed size, server page cap, and expiry cadence, the
    polling read path delivers the full range exactly once, in order —
    recovery placement must never be able to change delivery."""
    from kinesumer_spark.sources.kinesis_wire import (
        _WireSlice,
        FakeKinesisServer,
        KinesumerWireStreamReader,
        simple_stream,
    )

    with FakeKinesisServer(simple_stream("wire", 1, n_records)) as srv:
        srv.api.max_page = max_page
        srv.api.expire_every = expire_every
        r = KinesumerWireStreamReader(
            None, {"endpoint": srv.url, "stream": "wire"}
        )
        rows = list(
            r.read(
                _WireSlice(
                    "shardId-000000000000",
                    None,
                    str(n_records - 1).zfill(21),
                )
            )
        )
    assert [int(t[2]) for t in rows] == list(range(n_records))


@settings(max_examples=12, deadline=None)
@given(
    n_records=st.integers(min_value=1, max_value=60),
    event_batch=st.integers(min_value=1, max_value=9),
    max_events=st.integers(min_value=1, max_value=4),
)
def test_wire_efo_renewal_delivery_invariant(
    n_records, event_batch, max_events
):
    """For ANY feed size, event batching, and subscription cap, the
    EFO push path delivers the full range exactly once, in order —
    however many renewal boundaries the lease end forces."""
    from kinesumer_spark.sources.kinesis_wire import (
        _WireSlice,
        FakeKinesisServer,
        KinesumerWireStreamReader,
        register_efo_consumer,
        simple_stream,
        wire_client,
    )

    with FakeKinesisServer(simple_stream("wire", 1, n_records)) as srv:
        srv.api.efo_event_batch = event_batch
        srv.api.efo_max_events_per_sub = max_events
        arn = register_efo_consumer(wire_client(srv.url), "wire", "t-prop")
        r = KinesumerWireStreamReader(
            None,
            {
                "endpoint": srv.url,
                "stream": "wire",
                "mode": "efo",
                "consumerarn": arn,
            },
        )
        rows = list(
            r.read(
                _WireSlice(
                    "shardId-000000000000",
                    None,
                    str(n_records - 1).zfill(21),
                )
            )
        )
    assert [int(t[2]) for t in rows] == list(range(n_records))


@settings(max_examples=10, deadline=None)
@given(
    n_records=st.integers(min_value=1, max_value=50),
    batch_size=st.integers(min_value=1, max_value=17),
    fail_every=st.integers(min_value=2, max_value=5),
    n_shards=st.sampled_from([1, 2, 4]),
)
def test_wire_putrecords_retry_delivery_invariant(
    n_records, batch_size, fail_every, n_shards
):
    """For ANY row count, writer batch size, shard count, and
    per-entry throttle cadence, the PutRecords writer places every
    record exactly once — the failed-subset resubmission can never
    lose or duplicate an entry."""
    import json as _json

    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWirePutWriter,
        drain_via_wire,
        open_stream,
    )

    rows = [
        {"partition_key": f"pk-{i}", "data": _json.dumps({"k": i})}
        for i in range(n_records)
    ]
    with FakeKinesisServer(open_stream("wire", n_shards)) as srv:
        srv.api.put_fail_every = fail_every
        w = KinesumerWirePutWriter(
            None,
            {
                "endpoint": srv.url,
                "stream": "wire",
                "batchsize": batch_size,
                "maxattempts": 30,
            },
        )
        msg = w.write(iter(rows))
        assert msg.n_ok == n_records
        drained = drain_via_wire(srv.url, "wire")
    assert sorted(int(t[3]) for t in drained) == list(range(n_records))


# -- Content-defined chunking (operators/dedup.py CDC block) -----------------
#
# Pure-Python reference of the EXACT scheme the Spark HOF expression and
# the DuckDB oracle implement: boundary AFTER position i (1-based) iff
# sha32 of the trailing 8-byte window ≡ 63 (mod 64); final boundary
# forced at end-of-text.


def _cdc_ref(text: str, w: int = 8, m: int = 64) -> list[str]:
    import hashlib

    bounds = [
        i
        for i in range(w, len(text) + 1)
        if int(hashlib.sha256(text[i - w : i].encode()).hexdigest()[:8], 16)
        % m
        == m - 1
    ]
    if not bounds or bounds[-1] != len(text):
        bounds.append(len(text))
    out, prev = [], 0
    for b in bounds:
        out.append(text[prev:b])
        prev = b
    return out


_cdc_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0,
    max_size=400,
)


@settings(max_examples=150, deadline=None)
@given(text=_cdc_text)
def test_cdc_chunks_conserve_bytes(text):
    """Chunks are a partition of the text: concatenation reproduces it
    exactly, every chunk is non-empty (except the single chunk of an
    empty text), and boundaries are strictly increasing — for ALL
    strings, not just the fixture corpus."""
    chunks = _cdc_ref(text)
    assert "".join(chunks) == text
    if text:
        assert all(chunks)


@settings(max_examples=100, deadline=None)
@given(
    text=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=40,
        max_size=300,
    ),
    pos=st.integers(min_value=0, max_value=300),
    ins=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=1,
        max_size=30,
    ),
)
def test_cdc_is_shift_resistant(text, pos, ins):
    """THE property CDC exists for (and fixed-stride spans lack): an
    insertion only disturbs chunks up to the first boundary at least a
    window-length past the edit — every original chunk that starts at
    or after that boundary reappears bit-identical in the edited text,
    because trailing windows wholly right of the edit hash the same,
    just shifted. This is why two document versions share most of
    their chunk fingerprints."""
    w = 8
    pos = min(pos, len(text))
    edited = text[:pos] + ins + text[pos:]
    orig = _cdc_ref(text)
    new_chunks = _cdc_ref(edited)
    # original boundary positions i >= pos + w are preserved (shifted)
    start, stable_tail = 0, []
    for c in orig:
        if start >= pos + w:
            stable_tail.append(c)
        start += len(c)
    # the stable tail must appear, in order, at the end of the edited
    # chunk list (the last chunk runs to end-of-text in both versions)
    if stable_tail:
        assert new_chunks[-len(stable_tail) :] == stable_tail


# -- Temperature plan (operators/training_prep.temperature_plan_*) ----------


@settings(max_examples=200, deadline=None)
@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=10**7), min_size=1, max_size=12
    )
)
# floored thresholds of adjacent sizes invert by one unit here
# (n=9999999 -> 946799, n=10000000 -> 946800); the rates do not
@example(counts=[1, 1, 4, 6, 162597, 9999999, 10000000])
def test_temperature_plan_invariants(counts):
    """The SHIPPED plan math (temperature_plan_cte, executed here in
    DuckDB over a synthetic per-key table), checked against a
    pure-Python mirror and the plan invariants for all count shapes:
    thresholds live in [0, D]; a key whose target reaches its count
    clamps to keep-all (threshold == D); floor rounding never
    over-allocates (sum of targets <= total); and the sampling RATE is
    weakly decreasing in key size (temperature < 1 downsamples the
    head and upsamples the tail — the defining property of the mix).
    Executing the real CTE (not just the mirror) means an edit to the
    shipped SQL fails here (r10 review)."""
    import math

    import duckdb

    from kinesumer_spark.operators.training_prep import temperature_plan_cte

    d = 1_000_000
    total = sum(counts)
    wts = [math.sqrt(c) for c in counts]
    # ordered running sum, same association order as the SQL window
    cum = 0.0
    cums = []
    for x in wts:
        cum += x
        cums.append(cum)
    total_wt = max(cums)
    targets = [math.floor(total * x / total_wt) for x in wts]
    thresholds = [min(d, t * d // n) for t, n in zip(targets, counts)]
    # execute the SHIPPED CTE over an expanded per-key table and demand
    # exact agreement with the mirror (keys k000, k001, ... sort in
    # index order, matching the mirror's ordered running sum)
    con = duckdb.connect()
    values = ", ".join(
        f"('k{i:03d}')"
        for i, c in enumerate(counts)
        for _ in range(min(c, 997))
    )
    eff = [min(c, 997) for c in counts]  # cap expansion; shape preserved
    con.sql(f"CREATE TABLE src AS SELECT * FROM (VALUES {values}) t(lang)")
    got = con.sql(
        f"WITH {temperature_plan_cte('src', 'lang', 'n_docs', d)} "
        "SELECT lang, n_docs, target_docs, threshold FROM thr ORDER BY lang"
    ).fetchall()
    etotal = sum(eff)
    ewts = [math.sqrt(c) for c in eff]
    ecum = 0.0
    ecums = []
    for x in ewts:
        ecum += x
        ecums.append(ecum)
    etw = max(ecums)
    for row, c, w_ in zip(got, eff, ewts):
        et = math.floor(etotal * w_ / etw)
        assert row[1] == c
        assert row[2] == et, (row, et)
        assert row[3] == min(d, et * d // c), (row, et, c)
    assert sum(targets) <= total
    assert all(0 <= t <= d for t in thresholds)
    for t, n, thr in zip(targets, counts, thresholds):
        if t >= n:
            assert thr == d
    # weak monotonicity of rate vs size, on the exact pre-floor rates
    # (total·√n/W)/n, written as total/(W·√n) so that every float
    # operation is monotone in n; the floored thresholds above are not
    # monotone, each floor moves a threshold by up to one unit
    by_n = sorted((n, total / (total_wt * math.sqrt(n))) for n in counts)
    for (n1, r1), (n2, r2) in zip(by_n, by_n[1:]):
        if n1 < n2:
            assert r1 >= r2, (n1, r1, n2, r2)


@settings(max_examples=200, deadline=None)
@given(
    texts=st.lists(
        st.text(
            # full unicode incl. astral plane — the kernel's utf-32
            # decode claims exactness for ANY text, and the corpus
            # (pure ASCII) never exercises that claim
            alphabet=st.characters(
                min_codepoint=1, max_codepoint=0x10FFFF,
                blacklist_categories=("Cs",),  # no lone surrogates
            ),
            max_size=400,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_cdc_vectorized_kernel_matches_spec(texts):
    """The Arrow CDC kernel == an independent pure-Python reference of
    the rolling-Horner spec (ord()-based, no numpy, no utf-32 trick)
    on arbitrary unicode, including non-BMP: same cut positions, chunk
    count, max chunk, sha32 checksum, and conservation total. This is
    the cross-engine semantics the shared DuckDB oracle states, proven
    beyond the ASCII-only corpus."""
    import hashlib

    import pandas as pd

    from kinesumer_spark.operators.dedup import (
        _CDC_M,
        _CDC_RP,
        _CDC_RQ,
        _CDC_W,
        _cdc_vectorized_kernel,
    )

    def reference(text):
        n = len(text)
        cps = [ord(c) for c in text]
        cuts = []
        for end in range(_CDC_W, n + 1):  # 1-based window end
            h = cps[end - _CDC_W]
            for k in range(end - _CDC_W + 1, end):
                h = (h * _CDC_RP + cps[k]) % _CDC_RQ
            if h % _CDC_M == _CDC_M - 1:
                cuts.append(end)
        if not cuts or cuts[-1] != n:
            cuts.append(n)
        chunks = [
            text[s:e] for s, e in zip([0] + cuts[:-1], cuts)
        ]
        return (
            len(chunks),
            max(len(c) for c in chunks),
            sum(
                int.from_bytes(
                    hashlib.sha256(c.encode("utf-8")).digest()[:4], "big"
                )
                for c in chunks
            ),
            n,
        )

    pdf = pd.DataFrame(
        {"doc_id": range(len(texts)), "text": pd.Series(texts, dtype=object)}
    )
    (out,) = list(_cdc_vectorized_kernel([pdf]))
    for i, text in enumerate(texts):
        row = out[out.doc_id == i].iloc[0]
        got = (
            int(row.n_chunks),
            int(row.max_chunk_len),
            int(row.chunk_checksum),
            int(row.chars_total),
        )
        assert got == reference(text), (repr(text), got, reference(text))


# ---- shingle-regex whitespace invariant (r13, driver advice) --------------
# The regexp-lookahead shingle form '(?:^| )(?=(\S+ \S+ \S+))' backs
# text_decontaminate/spans/excise and all three streaming gates; its
# split(' ')-based oracles agree with it ONLY on single-space-tokenized
# text. These properties pin (a) the equality on the documented corpus
# invariant and (b) the exact divergence semantics off it, so a regex or
# tokenizer change that silently shifts either side fails here first.

_WORD = st.text(
    alphabet=st.characters(
        codec="ascii", categories=("L", "N", "P", "S")
    ),
    min_size=1,
    max_size=6,
).filter(lambda w: " " not in w)


def _split_trigrams(text: str) -> list[str]:
    """The oracle-side model: split(' ') word trigrams, whole-text
    fallback below 3 words — exactly the DuckDB oracles' CASE."""
    words = text.split(" ")
    if len(words) >= 3:
        return [" ".join(words[i : i + 3]) for i in range(len(words) - 2)]
    return [text]


def _regex_trigrams(text: str) -> list[str]:
    """Python re model of the Spark expression: regexp_extract_all with
    the lookahead pattern, whole-text fallback on zero matches. The
    generated alphabet is ASCII, where Python's \\S and Java's \\S
    agree (the Spark==model bridge is test_llm_ops'
    test_regex_shingles_match_python_model_off_invariant)."""
    import re

    m = re.findall(r"(?:^| )(?=(\S+ \S+ \S+))", text)
    return m if m else [text]


def _segment_model(text: str) -> list[str]:
    """Independent characterization of the regex semantics: shingles are
    generated per maximal single-space-separated \\S+ run; any non-space
    whitespace or a 2+ space run is a hard boundary; AND a run's first
    word anchors a shingle only when the run starts at ^ or right after
    a literal space (a tab/newline-preceded run loses its first
    trigram — the lookahead has nowhere to stand). No whole-text
    fallback here — the caller applies it on an empty total."""
    import re

    out: list[str] = []
    for m in re.finditer(r"\S+(?: \S+)*", text):
        words = m.group(0).split(" ")
        first = 0 if (m.start() == 0 or text[m.start() - 1] == " ") else 1
        out.extend(
            " ".join(words[i : i + 3]) for i in range(first, len(words) - 2)
        )
    return out


@settings(max_examples=300, deadline=None)
@given(words=st.lists(_WORD, min_size=0, max_size=12))
def test_shingle_regex_equals_split_on_single_space_text(words):
    """THE corpus invariant: on single-space-tokenized text the regex
    multiset equals the split(' ') trigram multiset — the precondition
    every decontamination oracle and streaming gate stands on."""
    text = " ".join(words)
    assert _regex_trigrams(text) == _split_trigrams(text)


@settings(max_examples=300, deadline=None)
@given(
    words=st.lists(_WORD, min_size=1, max_size=10),
    seps=st.lists(
        st.sampled_from([" ", "  ", "\t", "\n", " \t ", "   "]),
        min_size=0,
        max_size=9,
    ),
    lead=st.sampled_from(["", " ", "\t", "  "]),
    tail=st.sampled_from(["", " ", "\t", "  "]),
)
def test_shingle_regex_divergence_mode_is_pinned(words, seps, lead, tail):
    """OFF the invariant (tabs, newlines, multi-space runs, edge
    whitespace) the regex does NOT track split(' '): it shingles each
    maximal single-space-separated word run independently and falls
    back to the whole text only when no run reaches 3 words. Pinning
    this exact mode documents what the oracles would disagree about if
    the corpus ever stopped being single-space tokenized."""
    parts = [words[0]]
    for i, w in enumerate(words[1:]):
        parts.append(seps[i % len(seps)] if seps else " ")
        parts.append(w)
    text = lead + "".join(parts) + tail
    expect = _segment_model(text) or [text]
    assert _regex_trigrams(text) == expect


@settings(max_examples=50, deadline=None)
@given(
    counts=st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=25)
)
def test_hamilton_allocation_sql_properties(counts):
    """The apportionment SQL (the exact text the driver trusts) must
    satisfy Hamilton's invariants for ARBITRARY strata, not just the
    fixture's: allocations sum exactly to the budget (Σ fractional
    remainders < #strata, so the rank-prefix rule always lands), every
    stratum gets floor(quota) or floor(quota)+1, and staying within one
    document of the real-valued quota (no Alabama-paradox-style drift
    from float rounding — there are no floats to drift)."""
    import duckdb

    from kinesumer_spark.operators.training_prep import _ALLOC_ORACLE, _EVAL_BUDGET

    con = duckdb.connect()
    parts = " UNION ALL ".join(
        f"SELECT 'src{i:03d}' AS source, 'l' AS lang, 1 AS doc_id FROM range({c})"
        for i, c in enumerate(counts)
    )
    con.sql(f"CREATE VIEW documents AS {parts}")
    rows = con.sql(_ALLOC_ORACLE).fetchall()
    total = sum(counts)
    assert sum(r[-1] for r in rows) == _EVAL_BUDGET
    for source, lang, n_docs, base, rem, rank, alloc in rows:
        assert alloc in (base, base + 1)
        quota = _EVAL_BUDGET * n_docs / total
        assert quota - 1 < alloc < quota + 1


@settings(max_examples=200, deadline=None)
@given(h=st.integers(min_value=0, max_value=(1 << 32) - 1))
def test_minhash_coefficients_stay_inside_int64(h):
    """The documented overflow-safety claims of the MinHash tier
    (dedup.py _COEF/_FOLD comments) hold for EVERY 32-bit hash value:
    a·h + b < 2^63 for all 64 permutation pairs, and every polynomial
    band-fold intermediate stays under 2^62 (so neither Spark's silent
    int64 wrap nor DuckDB's overflow error can ever fire)."""
    from kinesumer_spark.operators.dedup import _COEF, _FOLD, _P32

    for a, b in _COEF:
        assert a * h + b < 1 << 63
        m = (a * h + b) % _P32
        assert m < 1 << 33
    # fold: k < Q < 2^30 at every step, k·M + h < 2^62 + 2^33
    for mult, mod in _FOLD:
        k = h % mod
        for _ in range(4):
            assert k * mult + h < 1 << 63
            k = (k * mult + h) % mod
            assert k < mod < 1 << 31


@settings(max_examples=100, deadline=None)
@given(tokens=st.integers(min_value=1, max_value=140_000))
def test_length_bucket_ladder_matches_bisect(tokens):
    """The integer CASE ladder must agree with the mathematical
    definition (smallest listed power of two >= tokens) everywhere in
    the supported range — the property ceil(log2()) would get wrong at
    exact powers under float rounding."""
    import duckdb

    from kinesumer_spark.operators.training_prep import (
        _LEN_BUCKETS,
        _bucket_case,
    )

    expect = next((b for b in _LEN_BUCKETS if tokens <= b), -1)
    got = duckdb.sql(
        f"SELECT {_bucket_case(str(tokens))} AS b"
    ).fetchone()[0]
    assert got == expect
