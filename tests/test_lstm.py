"""Bi-LSTM scoring kernel (M5) vs an independent per-row loop oracle."""

from __future__ import annotations

import numpy as np

from cross_sentence_relation_extraction_idepnn_spark import kernels as K


def _rows(n=4, seed=3):
    rng = np.random.RandomState(seed)
    vocab = ["scan", "table", "reads", "the", "fast", "row", "data", "join"]
    rows = []
    for _ in range(n):
        sents = [
            [vocab[rng.randint(8)] for _ in range(int(rng.randint(2, 5)))]
            for _ in range(int(rng.randint(1, 3)))
        ]
        texts = [" ".join(s) for s in sents]
        f = K.featurize_window(texts, 0, 0, len(sents) - 1, len(sents[-1]) - 1, 0)
        rows.append(f)
    return rows


def _sig(x):
    return 1.0 / (1.0 + np.exp(-x))


def test_lstm_probs_simplex_and_batch_invariance():
    rows = _rows(5)
    W = K.init_lstm_weights()
    p = K.score_batch_lstm(rows, W)
    assert p.shape == (5, 2)
    assert np.allclose(p.sum(axis=1), 1.0)
    solo = np.vstack([K.score_batch_lstm([r], W) for r in rows])
    np.testing.assert_allclose(p, solo, rtol=1e-12, atol=1e-12)


def test_lstm_matches_loop_oracle():
    rows = _rows(3, seed=9)
    W = K.init_lstm_weights()
    got = K.score_batch_lstm(rows, W)
    pos_t, iob_t, pi_t = K.pos_vec_table(), K.iob_vec_table(), K.pi_vec_table()
    for b, r in enumerate(rows):
        xs = []
        for t, w in enumerate(r["sdp_words"]):
            xs.append(
                np.concatenate(
                    [
                        K.word_vec(w),
                        pi_t[r["pi_e1"][t]],
                        pi_t[r["pi_e2"][t]],
                        pos_t[r["sdp_pos"][t]],
                        iob_t[r["sdp_iob"][t]],
                    ]
                )
            )

        def run(dirn, seq):
            h = np.zeros(K.HIDDEN)
            c = np.zeros(K.HIDDEN)
            hs = []
            for x in seq:
                i = _sig(x @ W[f"W_xi_{dirn}"] + h @ W[f"W_hi_{dirn}"] + c * W[f"p_i_{dirn}"] + W[f"b_i_{dirn}"])
                f = _sig(x @ W[f"W_xf_{dirn}"] + h @ W[f"W_hf_{dirn}"] + c * W[f"p_f_{dirn}"] + W[f"b_f_{dirn}"])
                c = f * c + i * np.tanh(x @ W[f"W_xc_{dirn}"] + h @ W[f"W_hc_{dirn}"] + W[f"b_c_{dirn}"])
                o = _sig(x @ W[f"W_xo_{dirn}"] + h @ W[f"W_ho_{dirn}"] + c * W[f"p_o_{dirn}"] + W[f"b_o_{dirn}"])
                h = o * np.tanh(c)
                hs.append(h)
            return hs

        hf = run("f", xs)
        hb = run("b", xs[::-1])[::-1]
        hbi = np.zeros(K.HIDDEN)
        for t in range(len(xs)):
            hbi = np.tanh(hf[t] @ W["W_f_bi"] + hb[t] @ W["W_b_bi"] + hbi @ W["W_hh_bi"] + W["b_bi"])
        logits = hbi @ W["W_hy"] + W["b_y"]
        e = np.exp(logits - logits.max())
        np.testing.assert_allclose(got[b], e / e.sum(), rtol=1e-10, atol=1e-12)


def test_save_weights_then_load_weights_returns_new_weights(tmp_path):
    """train → save_weights → load_weights in one process must return
    the trained weights, not the memoized ones from before training."""
    from cross_sentence_relation_extraction_idepnn_spark import training

    path = str(tmp_path / "weights.json")
    base = training.load_weights(path)  # no file yet: memoized init
    rng = np.random.RandomState(5)
    d = base["W_hy_adp"].shape[0]
    feats = rng.randn(16, d)
    labels = rng.randint(0, K.N_CLASSES, size=16)
    trained = training.train_head(feats, labels, base)
    assert not np.array_equal(trained["W_hy_adp"], base["W_hy_adp"])
    training.save_weights(trained, path)
    got = training.load_weights(path)
    assert set(got) == set(trained)
    for k in trained:
        np.testing.assert_array_equal(got[k], trained[k])
    assert training.load_weights(path) is got  # memoized again
