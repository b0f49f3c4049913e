package graft.text

import java.util.Locale
import graft.text.stem._

/** Languages supported by the tokenizer (the reference's 17-variant enum,
  * `/root/reference/src/default_tokenizer.rs:17-35`). All 17 languages route
  * to a Snowball stemmer and an NLTK stopword list; per-language fidelity
  * status (snapshot-exact vs golden-vector-validated vs structural port) is
  * documented in each `graft.text.stem.*Stemmer` and `StopwordLists`.
  */
sealed abstract class Language(val name: String) extends Serializable
object Language {
  case object Arabic extends Language("arabic")
  case object Danish extends Language("danish")
  case object Dutch extends Language("dutch")
  case object English extends Language("english")
  case object French extends Language("french")
  case object German extends Language("german")
  case object Greek extends Language("greek")
  case object Hungarian extends Language("hungarian")
  case object Italian extends Language("italian")
  case object Norwegian extends Language("norwegian")
  case object Portuguese extends Language("portuguese")
  case object Romanian extends Language("romanian")
  case object Russian extends Language("russian")
  case object Spanish extends Language("spanish")
  case object Swedish extends Language("swedish")
  case object Tamil extends Language("tamil")
  case object Turkish extends Language("turkish")

  val all: Seq[Language] = Seq(Arabic, Danish, Dutch, English, French, German,
    Greek, Hungarian, Italian, Norwegian, Portuguese, Romanian, Russian,
    Spanish, Swedish, Tamil, Turkish)

  def fromName(s: String): Option[Language] = all.find(_.name == s.toLowerCase(Locale.ROOT))
}

/** The tokenizer contract (the reference's `Tokenizer` trait,
  * `/root/reference/src/tokenizer.rs:3-6`): one pure `String => Seq[String]`.
  * Any implementation can be plugged into the embedder / engine builders
  * (custom-tokenizer hook, `embedder.rs:89-94` + `search.rs:176-209`).
  */
trait TextTokenizer extends Serializable {
  def tokenize(text: String): Array[String]
}

/** A user-supplied tokenizer function (T7 in SURVEY §2.2). */
final class FnTokenizer(f: String => Seq[String]) extends TextTokenizer {
  def tokenize(text: String): Array[String] = f(text).toArray
}

/** The default tokenizer: normalize → lowercase → UAX#29 split → stopword
  * filter → stem, with an empty-input short-circuit — the exact fused
  * pipeline of `/root/reference/src/default_tokenizer.rs:272-301`. All five
  * stages run in one pass per row: as a Spark transform this is a single
  * narrow projection (no shuffle).
  *
  * Builder toggles mirror `DefaultTokenizerBuilder`
  * (`default_tokenizer.rs:330-379`): normalization / stopwords / stemming,
  * each defaulting to true, language defaulting to English.
  */
final class Bm25Tokenizer private (
    val language: Language,
    val normalization: Boolean,
    val stopwords: Boolean,
    val stemming: Boolean
) extends TextTokenizer {

  private val stemmer: Stemmer =
    if (!stemming) NoOpStemmer
    else language match {
      case Language.Arabic     => ArabicStemmer
      case Language.Danish     => DanishStemmer
      case Language.Dutch      => DutchStemmer
      case Language.English    => EnglishStemmer
      case Language.French     => FrenchStemmer
      case Language.German     => GermanStemmer
      case Language.Greek      => GreekStemmer
      case Language.Hungarian  => HungarianStemmer
      case Language.Italian    => ItalianStemmer
      case Language.Norwegian  => NorwegianStemmer
      case Language.Portuguese => PortugueseStemmer
      case Language.Romanian   => RomanianStemmer
      case Language.Russian    => RussianStemmer
      case Language.Spanish    => SpanishStemmer
      case Language.Swedish    => SwedishStemmer
      case Language.Tamil      => TamilStemmer
      case Language.Turkish    => TurkishStemmer
    }

  // The stopword set is itself normalized when normalization is on,
  // mirroring `default_tokenizer.rs:142-154` (`für` → `fur`).
  private val stopwordSet: Set[String] =
    if (!stopwords) Set.empty
    else {
      val raw = Stopwords.forLanguage(language)
      if (normalization) raw.map(Transliterate(_)) else raw
    }

  // Stemming is ~75 % of tokenize cost (perfbench tracks tokenize cost as
  // text.tokenize_docs_per_s), and Zipf-skewed corpora re-stem the same
  // head tokens constantly, so stems are memoized in a bounded per-thread
  // map: no synchronization, cleared wholesale when full (the hot head repopulates within one document —
  // cheaper than LRU bookkeeping). @transient: rebuilt lazily after the
  // tokenizer is deserialized onto an executor. Memoization is transparent
  // because stem() is pure; the EN/DE snapshot suites assert bit-exact
  // output either way. Long tokens are not cached to bound entry size.
  private val MemoCap = 1 << 15
  @transient private lazy val memo = new ThreadLocal[java.util.HashMap[String, String]] {
    override def initialValue(): java.util.HashMap[String, String] =
      new java.util.HashMap[String, String](MemoCap * 2)
  }

  // internal views for the fused tokenize+hash path (TokenHashCache)
  private[text] def stopwordSetView: Set[String] = stopwordSet
  private[text] def stemmerView: Stemmer = stemmer
  private[text] def configKey: String =
    s"${language.name}:$normalization:$stopwords:$stemming"

  /** Fused tokenize+hash: calls `f` with `hasher.hash(stem(word))` for each
    * non-stopword token of `text`, in token order, and returns dl (the
    * post-stopword token count) — exactly
    * `tokenize(text).map(hasher.hash)` without materializing the token
    * array or (on cache hits) any per-token object at all. Only invoked
    * for hashers that `TokenHashCache.supports` (Embedder gates it);
    * FusedPathSpec asserts equivalence against the generic path.
    */
  private[graft] def foreachTermHash(text: String, hasher: graft.bm25.TokenHasher)(f: Long => Unit): Int = {
    if (text.isEmpty) return 0
    val normalized = if (normalization) Transliterate(text) else text
    val lowered = normalized.toLowerCase(Locale.ROOT)
    val ranges = UnicodeWords.splitRanges(lowered)
    val cache = TokenHashCache.forConfig(this, hasher)
    var dl = 0
    var i = 0
    while (i < ranges.length) {
      val h = cache.termHash(lowered, ranges(i), ranges(i + 1))
      if (h != TokenHashCache.StopSentinel) { f(h); dl += 1 }
      i += 2
    }
    dl
  }

  def tokenize(text: String): Array[String] = {
    if (text.isEmpty) return Array.empty
    // Normalize (unicode → ASCII), then lowercase the whole text (the
    // reference lowercases after normalization, `default_tokenizer.rs:274-276`).
    val normalized = if (normalization) Transliterate(text) else text
    val lowered = normalized.toLowerCase(Locale.ROOT)
    val words = UnicodeWords.split(lowered)
    if (stopwordSet.isEmpty && (stemmer eq NoOpStemmer)) return words
    val out = Array.newBuilder[String]
    out.sizeHint(words.length)
    val m = if (stemmer eq NoOpStemmer) null else memo.get()
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (!stopwordSet.contains(w)) {
        if (m == null) out += w
        else {
          var s = m.get(w)
          if (s == null) {
            s = stemmer.stem(w)
            if (w.length <= 48) {
              if (m.size >= MemoCap) m.clear()
              m.put(w, s)
            }
          }
          out += s
        }
      }
      i += 1
    }
    out.result()
  }
}

object Bm25Tokenizer {
  def apply(language: Language = Language.English,
            normalization: Boolean = true,
            stopwords: Boolean = true,
            stemming: Boolean = true): Bm25Tokenizer =
    new Bm25Tokenizer(language, normalization, stopwords, stemming)

  val default: Bm25Tokenizer = apply()
}
