package graft.operators

import scala.util.control.NonFatal

/** SITEMAP XML walk (the public sitemaps.org protocol): the crawl
  * frontier's seed list — `<urlset>` files of `<url>` entries (loc,
  * lastmod, changefreq, priority) and `<sitemapindex>` files pointing
  * at more sitemaps — parsed with a STRICT narrow XML scanner: an
  * optional declaration, one root element, child entries whose
  * sub-elements tile exactly, and XML entity decoding in text values
  * (`&amp;` inside `<loc>` URLs is the classic trap — a query string
  * `a=1&amp;b=2` must decode before the URL is fetched or deduped).
  *
  * Hostile posture: [[parse]] never throws — a wrong root, unbalanced
  * or interleaved tags, an entry without `<loc>`, an unknown entity,
  * or trailing garbage all yield None.
  */
object Sitemap {

  final case class Entry(loc: String, lastmod: Option[String],
      changefreq: Option[String], priority: Option[String])

  /** Parsed file: `isIndex` = a sitemapindex of child sitemaps rather
    * than a urlset of pages.
    */
  final case class SitemapInfo(isIndex: Boolean, entries: Vector[Entry]) {
    def nEntries: Int = entries.length
  }

  private def decodeEntities(s: String): Option[String] = {
    if (!s.contains('&')) return Some(s)
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i)
        if (semi < 0) return None
        s.substring(i + 1, semi) match {
          case "amp" => out.append('&')
          case "lt" => out.append('<')
          case "gt" => out.append('>')
          case "quot" => out.append('"')
          case "apos" => out.append('\'')
          case _ => return None // numeric refs / unknown: out of scope
        }
        i = semi + 1
      } else { out.append(c); i += 1 }
    }
    Some(out.toString)
  }

  def parse(text: String): Option[SitemapInfo] =
    try {
      var p = 0
      def ws(): Unit = while (p < text.length && text.charAt(p).isWhitespace) p += 1
      ws()
      if (text.startsWith("<?xml", p)) {
        val e = text.indexOf("?>", p)
        if (e < 0) return None
        p = e + 2
        ws()
      }
      def openTag(): Option[String] = {
        if (p >= text.length || text.charAt(p) != '<') return None
        if (p + 1 < text.length && text.charAt(p + 1) == '/') return None
        val e = text.indexOf('>', p)
        if (e < 0) return None
        val inner = text.substring(p + 1, e)
        p = e + 1
        // the name ends at the first whitespace (attributes skipped)
        Some(inner.takeWhile(c => !c.isWhitespace))
      }
      val root = openTag().getOrElse(return None)
      val (isIndex, entryTag) = root match {
        case "urlset" => (false, "url")
        case "sitemapindex" => (true, "sitemap")
        case _ => return None
      }
      val entries = Vector.newBuilder[Entry]
      ws()
      while (!text.startsWith(s"</$root>", p)) {
        val t = openTag().getOrElse(return None)
        if (t != entryTag) return None
        var loc: Option[String] = None
        var lastmod: Option[String] = None
        var changefreq: Option[String] = None
        var priority: Option[String] = None
        ws()
        while (!text.startsWith(s"</$entryTag>", p)) {
          val f = openTag().getOrElse(return None)
          val e = text.indexOf(s"</$f>", p)
          if (e < 0) return None
          val raw = text.substring(p, e)
          if (raw.contains('<')) return None // nested markup in a field
          val v = decodeEntities(raw.trim).getOrElse(return None)
          p = e + f.length + 3
          f match {
            case "loc" =>
              if (loc.nonEmpty) return None // duplicate loc
              loc = Some(v)
            case "lastmod" => lastmod = Some(v)
            case "changefreq" => changefreq = Some(v)
            case "priority" => priority = Some(v)
            case _ => return None // unknown field: strict scope
          }
          ws()
        }
        p += entryTag.length + 3
        entries += Entry(loc.getOrElse(return None), lastmod, changefreq,
          priority)
        ws()
      }
      p += root.length + 3
      ws()
      if (p != text.length) return None // trailing garbage
      Some(SitemapInfo(isIndex, entries.result()))
    } catch { case NonFatal(_) => None }

  /** Render a valid sitemap (entities encoded in loc values). */
  def render(isIndex: Boolean, entries: Seq[Entry]): String = {
    val root = if (isIndex) "sitemapindex" else "urlset"
    val tag = if (isIndex) "sitemap" else "url"
    def enc(s: String): String = s.replace("&", "&amp;")
      .replace("<", "&lt;").replace(">", "&gt;")
    val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append(s"""<$root xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n""")
    entries.foreach { e =>
      sb.append(s"  <$tag>\n")
      sb.append(s"    <loc>${enc(e.loc)}</loc>\n")
      e.lastmod.foreach(v => sb.append(s"    <lastmod>$v</lastmod>\n"))
      e.changefreq.foreach(v => sb.append(s"    <changefreq>$v</changefreq>\n"))
      e.priority.foreach(v => sb.append(s"    <priority>$v</priority>\n"))
      sb.append(s"  </$tag>\n")
    }
    sb.append(s"</$root>\n")
    sb.toString
  }
}
