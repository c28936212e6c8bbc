package graft.functions

import org.apache.spark.sql.Column

/** Column-API entry points for the engine's native expressions: each
  * wraps one Catalyst expression of this package as a `Column`.
  */
object GraftExtensions {

  /** ISO-8601 duration → seconds (see [[IsoDurationSeconds]]). */
  def iso_duration_seconds(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(IsoDurationSeconds(GraftColumnBridge.expression(c)))
  }

  /** Native url → registrable domain (see [[UrlDomains]]). */
  def url_registrable_domain(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(UrlRegistrableDomain(GraftColumnBridge.expression(c)))
  }

  /** Native dot product over two array<double> columns. */
  def vec_dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      DotProduct(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  /** All hyperplane-LSH sign buckets of one vector as array<long> —
    * ONE constant-code-size native expression for the whole (tables ×
    * bits) sketch; the unrolled per-plane vec_dot spelling grows the
    * generated method linearly with the planned shape and crossed
    * janino's 64 KB limit (silent interpreted fallback) at the 10×
    * rehearsal.
    */
  def lsh_sign_buckets(vec: Column, planes: Array[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(LshSignBuckets(GraftColumnBridge.expression(vec), planes))
  }

  /** Whitespace tokens (the [[graft.ops.Dedup.tokens]] rule) in one
    * native pass — no regex engine, no interpreted filter lambda.
    */
  def ws_tokens(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(WsTokens(GraftColumnBridge.expression(c)))
  }

  /** md5 hex of every word n-gram of a token array; element index =
    * gram start position (the positioned-gram layout, row-local).
    */
  def word_ngram_md5(tokens: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      WordNgramMd5Hex(GraftColumnBridge.expression(tokens), n))
  }

  /** The word n-grams of a token array as TEXT, positioned — the
    * row-local multiset form frequency consumers explode (see
    * [[WordNgrams]]); byte-identical to the concat_ws spelling.
    */
  def word_ngrams(tokens: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(WordNgrams(GraftColumnBridge.expression(tokens), n))
  }

  /** Vocabulary encoding of a token array against a driver-artifact
    * vocab map (see [[VocabEncode]]): struct(token_ids, n_tokens,
    * n_unk, n_in_vocab), row-local.
    */
  def vocab_encode(tokens: Column, vocab: Array[(String, Long)], unkId: Long): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      VocabEncode(GraftColumnBridge.expression(tokens), vocab, unkId))
  }

  /** Both Gopher repetition signals of one text in one row-local pass
    * (see [[RepetitionSignals]]): struct(top_bigram_frac,
    * dup_token_frac), null for token-less text.
    */
  def repetition_signals(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      RepetitionSignals(GraftColumnBridge.expression(text)))
  }

  /** Winnowing fingerprint selection over a positioned gram-digest
    * array, row-local (see [[WinnowFingerprints]]).
    */
  def winnow_fingerprints(grams: Column, w: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      WinnowFingerprints(GraftColumnBridge.expression(grams), w))
  }

  /** Seeded 64-bit hash of every word n-gram of a token array —
    * row-local positioned gram keys, byte-identical per
    * [[graft.ops.HashFamily]] tag (see [[WordNgramHash64]]).
    */
  def word_ngram_hash64(tokens: Column, n: Int, seed: Int, family: String): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      WordNgramHash64(GraftColumnBridge.expression(tokens), n, seed, family))
  }

  /** The whole MinHash signature of one document's token array as ONE
    * row-local native expression (see [[MinhashSig]]) — byte-identical
    * to [[graft.ops.Dedup.minhashSignatures]]'s aggregate form, with
    * no token exchange and no groupBy.
    */
  def minhash_sig(tokens: Column, n: Int, numHashes: Int, family: String): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      MinhashSig(GraftColumnBridge.expression(tokens), n, numHashes, family))
  }

  /** Calendar age between two dates as ISO-8601 (zero parts omitted). */
  def calendar_age_iso(start: Column, end: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(CalendarAgeIso(
      GraftColumnBridge.expression(start), GraftColumnBridge.expression(end)))
  }

  /** Unicode NFC normalization (ASCII fast path, codegen'd). */
  def nfc_normalize(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(NfcNormalize(GraftColumnBridge.expression(c)))
  }

  /** Locale.ROOT lowercase (host-locale-independent, codegen'd). */
  def lower_root(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(LowerRoot(GraftColumnBridge.expression(c)))
  }
}
