package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003
  * — the MOSS algorithm): from the stream of token n-gram hashes,
  * every window of `w` consecutive grams contributes its MINIMUM hash.
  * The selected set is position-robust — any shared run of at least
  * n + w - 1 tokens between two documents is guaranteed to contribute
  * at least one common fingerprint, no matter how the surrounding text
  * shifts it — which is what stride sampling can't promise. Density is
  * ~2/(w+1) of all grams, so the fingerprint table is a tunable
  * fraction of the corpus.
  *
  * Selection is BY VALUE (a window's min hash), so the output is the
  * distinct (doc, fingerprint) set and no tie rule is needed: equal
  * hashes are the same gram text (full 128-bit md5), and the set
  * collapses them. Documents with fewer than `w` grams contribute
  * their single global minimum (never zero fingerprints for a tokenized
  * document); documents shorter than `n` tokens have no grams and none.
  *
  * Everything is row-local min algebra over the positioned md5 gram
  * array — exact, engine-portable, oracle-checkable.
  *
  * Scale shape: NO shuffle at all — tokenize, gram digests and window
  * minima are one native pass in the scan task. Downstream, fingerprints feed the same machinery
  * as shingle signatures: groupBy fingerprint for cross-doc candidate
  * pairs, or set-similarity join ([[Dedup.minhashLshPairs]] shape).
  */
object Winnow {

  /** Distinct (id, fingerprint) rows; `fingerprint` is the md5 hex of
    * the selected n-gram. `n` = gram length in tokens, `w` = winnowing
    * window in grams.
    *
    * The whole selection is ROW-LOCAL now (native tokenize → positioned
    * md5 gram array → [[graft.functions.WinnowFingerprints]] in the
    * scan task): the previous form paid a doc-keyed token exchange +
    * sort for the positioned pass, four window functions over it, and
    * an (id, fingerprint) distinct exchange — all of which collapse
    * into one per-row pass with byte-identical output (complete
    * windows select their min; documents with fewer than w grams fall
    * back to their global min; distinctness is per document, which IS
    * per row under the one-row-per-document corpus contract).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, w: Int = 4): DataFrame = {
    require(n >= 2, s"gram length must be >= 2, got $n")
    require(w >= 1, s"winnow window must be >= 1, got $w")
    import graft.functions.GraftExtensions.{word_ngram_md5, winnow_fingerprints, ws_tokens}
    df.select(col(idCol),
        explode(winnow_fingerprints(
          word_ngram_md5(ws_tokens(col(textCol)), n), w)).as("fingerprint"))
  }
}
