"""Per-kernel timing of the flagship chain, in the benchmark process.

Replays ``kernels.pipeline.extract_turn`` one kernel at a time over a
seeded sample of turns and times each call.  Every kernel is looked up
on the ``kernels.pipeline`` module (or the compiled runtime) at call time,
so wrapping one of them there is seen here exactly as the chain would see
it.  The replay must yield the same triples as ``extract_turn``; a
mismatch means the replay has drifted from the chain and its numbers are
void.
"""

from __future__ import annotations

import statistics
import time

from nlp_lib_spark.kernels import pipeline as P

KERNELS = ("split", "tokenize", "gazetteer", "blind", "simplify", "pos",
           "domain", "dep_parse", "rules", "emit")


def _emit(blinded, mapping, domain, pairs) -> list[tuple]:
    out = []
    for (i, j) in pairs:
        pred = P._pred_term(domain, i, j)
        if i == j:
            so = P.fused_subj_obj(mapping, blinded[i])
            if so is None:
                continue
            subj, obj = so
        else:
            subj = P.resolve_surface(mapping, blinded[i])
            obj = P.resolve_surface(mapping, blinded[j])
        out.append((i, j, subj, pred, obj))
    return out


def profile(rt, texts: list[str], verify: bool = True) -> dict:
    """Nanoseconds per kernel summed over ``texts``, the chain's counts,
    and (with ``verify``) whether the replay reproduced ``extract_turn``
    on every text."""
    ns = dict.fromkeys(KERNELS, 0)
    clock = time.perf_counter_ns
    sentences = trivial = parsed = pairs = yielded = 0
    replay_ok = True
    for text in texts:
        t0 = clock()
        sents = P.split_sentences(P.strip_citations(text))
        ns["split"] += clock() - t0
        turn_out = []
        for sid, sentence in enumerate(sents):
            sentences += 1
            t0 = clock()
            tokens = P.tokenize(sentence)
            t1 = clock()
            ns["tokenize"] += t1 - t0
            if len(tokens) > rt.max_sent_tokens:
                continue
            iob = rt.gazetteer.tag_iob(tokens)
            t2 = clock()
            blinded, mapping, n_ent = P.blind(tokens, iob)
            t3 = clock()
            ns["gazetteer"] += t2 - t1
            ns["blind"] += t3 - t2
            if n_ent <= 1:
                trivial += 1
                continue
            blinded = P.simplify(blinded)
            t4 = clock()
            pos = P.pos_tag(blinded, rt.verb_stems)
            t5 = clock()
            domain = rt.domain.tag(blinded)
            t6 = clock()
            edges = P.dep_parse(blinded, pos)
            t7 = clock()
            found = ([] if n_ent > rt.max_mentions else
                     sorted(P.predict_interactions(blinded, pos, domain,
                                                   edges)))
            t8 = clock()
            triples = _emit(blinded, mapping, domain, found)
            t9 = clock()
            ns["simplify"] += t4 - t3
            ns["pos"] += t5 - t4
            ns["domain"] += t6 - t5
            ns["dep_parse"] += t7 - t6
            ns["rules"] += t8 - t7
            ns["emit"] += t9 - t8
            parsed += 1
            pairs += len(found)
            yielded += bool(triples)
            turn_out.extend((sid, *t) for t in triples)
        if verify:
            replay_ok = replay_ok and turn_out == P.extract_turn(rt, text)
    return {"ns": ns, "sentences": sentences, "trivial": trivial,
            "parsed": parsed, "pairs": pairs, "yielded": yielded,
            "replay_ok": replay_ok}


def per_sentence_us(prof: dict) -> dict[str, float]:
    """Each kernel's time per input sentence (so the ten values add up to
    the chain's cost per sentence, skipped sentences included)."""
    n = max(prof["sentences"], 1)
    return {k: v / 1e3 / n for k, v in prof["ns"].items()}


def kernel_metrics(rt, texts: list[str], reps: int = 3) -> tuple[dict, bool]:
    """Median-of-``reps`` per-kernel µs plus the chain's counts."""
    profs = [profile(rt, texts) for _ in range(reps)]
    us = {k: statistics.median(per_sentence_us(p)[k] for p in profs)
          for k in KERNELS}
    p = profs[0]
    m = {f"kernels.{k}_us": v for k, v in us.items()}
    m.update({
        "kernels.sentences": p["sentences"],
        "kernels.trivial_skip_ratio": p["trivial"] / max(p["sentences"], 1),
        "kernels.pairs_per_sentence": p["pairs"] / max(p["parsed"], 1),
        "kernels.parse_yield": p["yielded"] / max(p["parsed"], 1),
    })
    return m, all(q["replay_ok"] for q in profs)


def localization_selftest(rt, texts: list[str],
                          delay_us: float = 100.0) -> dict:
    """Wrap ``dep_parse`` with a fixed busy-wait and re-measure.

    Baseline and delayed profiles alternate (three of each) so a drift in
    host speed hits both sides alike, and each side keeps each kernel's
    fastest profile, because interference from other processes only ever
    adds time.  Passes when ``dep_parse_us`` rises by at least half the
    injected delay per sentence and no other kernel moves by more than
    25 % of its baseline or 20 % of the injected delay, whichever is
    larger."""
    original = P.dep_parse
    delay_ns = int(delay_us * 1e3)

    def slow_dep_parse(tokens, pos):
        end = time.perf_counter_ns() + delay_ns
        while time.perf_counter_ns() < end:
            pass
        return original(tokens, pos)

    base, slowed = [], []
    for _ in range(3):
        base.append(per_sentence_us(profile(rt, texts, verify=False)))
        P.dep_parse = slow_dep_parse
        try:
            prof = profile(rt, texts, verify=False)
        finally:
            P.dep_parse = original
        slowed.append(per_sentence_us(prof))
    b = {k: min(x[k] for x in base) for k in KERNELS}
    delta = {k: min(x[k] for x in slowed) - b[k] for k in KERNELS}
    expected = delay_us * prof["parsed"] / max(prof["sentences"], 1)

    def allowed(k):
        return max(0.25 * b[k], 0.2 * expected)

    others = [k for k in KERNELS if k != "dep_parse"]
    worst = max(others, key=lambda k: abs(delta[k]) / allowed(k))
    passed = (delta["dep_parse"] >= 0.5 * expected
              and all(abs(delta[k]) <= allowed(k) for k in others))
    return {"selftest.dep_parse_delta_us": delta["dep_parse"],
            "selftest.expected_delta_us": expected,
            "selftest.worst_other": worst,
            "selftest.worst_other_delta_us": delta[worst],
            "selftest.passed": passed}
