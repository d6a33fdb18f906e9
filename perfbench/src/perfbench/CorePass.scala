package perfbench

import graft.core.{ExtractCore, ExtractionRecord, PageResult}
import graft.core.html.{Boilerplate, CharsetSniffer, HeadMeta, Span}
import graft.core.pdf.PdfTextExtractor
import graft.core.rules.{FieldMapper, FieldRules, PatternClassifier, TableParser, Validator}
import graft.pipeline.PageGen

/** Single-thread pass over a fixed page sample that times the public
  * graft.core calls in processPage's order and checks that the composed
  * result equals processPage.
  */
object CorePass {
  private val Phases = Seq("charset", "boilerplate", "head", "pdf", "rules", "post")
  private val emptyHead = HeadMeta("", None, noindex = false, nofollow = false)

  /** processPage's steps, each timed into `ns(phase)`. */
  def compose(html: Array[Byte], fallback: String, ns: Array[Long]): PageResult = {
    def t[T](phase: Int)(body: => T): T = {
      val t0 = System.nanoTime(); val v = body; ns(phase) += System.nanoTime() - t0; v
    }
    try {
      val (text0, spans0, head) =
        if (html == null || html.isEmpty) ("", Vector.empty[Span], emptyHead)
        else if (PdfTextExtractor.isPdf(html)) {
          val s = t(3)(PdfTextExtractor.extract(html))
          (s, if (s.isEmpty) Vector.empty[Span] else Vector(Span("pdf", 0, s.length)), emptyHead)
        } else {
          val decoded = t(0)(CharsetSniffer.decode(html))
          val ex = t(1)(Boilerplate.extract(decoded))
          (ex.text, ex.spans, t(2)(HeadMeta.parse(decoded)))
        }
      val (text, spans) =
        if (text0.trim.nonEmpty) (text0, spans0)
        else if (fallback != null && fallback.trim.nonEmpty) (fallback, Vector(Span("fallback", 0, fallback.length)))
        else ("", Vector.empty[Span])
      if (text.trim.isEmpty)
        return PageResult("", spans, ExtractionRecord.failure("Could not extract text from PDF"), head)
      val (patternKey, chosen) = t(4) {
        val tables = TableParser.parse(text)
        val (key, _) = PatternClassifier.classify(text, tables)
        val format = FieldMapper.sniff(text)
        val first = Validator.validate(FieldMapper.extract(text, format, tables))
        val pick =
          if (first.isValid || format == FieldMapper.GenericFormat) first
          else {
            val second = Validator.validate(FieldMapper.extract(text, FieldMapper.GenericFormat, tables))
            if (second.isValid) second else first
          }
        (key, pick)
      }
      val rec = t(5) {
        val r0 = ExtractCore.postProcess(chosen.record, text)
        val r1 = r0.copy(patternUsed = patternKey, success = true, confidence = ExtractCore.confidence(r0))
        r1.copy(products = r1.products.map { p =>
          val w = FieldRules.convertWeightToKg(p.weight) match {
            case Right(kg) => p.copy(originalWeight = p.weight, weightInKg = Some(kg))
            case Left(_) => p.copy(originalWeight = p.weight, weightInKg = None)
          }
          def clean(v: String): String = if (v != null && v != "N/A") FieldRules.scrubMoney(v) else v
          w.copy(quantity = clean(w.quantity), rate = clean(w.rate), amount = clean(w.amount))
        })
      }
      PageResult(text, spans, rec, head)
    } catch {
      case scala.util.control.NonFatal(e) =>
        PageResult("", Vector.empty, ExtractionRecord.failure(if (e.getMessage != null) e.getMessage else e.toString))
    }
  }

  def run(cfg: Config, tr: Tracer, res: Result, seed: Long, pages: Int): Unit = {
    val sample = (0 until pages).map(i => PageGen.page(seed, i.toLong)).toArray
    val isPdf = sample.map(p => p.html != null && PdfTextExtractor.isPdf(p.html))
    val isHtml = sample.map(p => p.html != null && p.html.nonEmpty && !PdfTextExtractor.isPdf(p.html))
    val reps = 3
    val perRep = (0 until reps).map { rep =>
      val phaseNs = Array.fill(Phases.length)(0L)
      var htmlNs = 0L; var pdfNs = 0L; var rulesPages = 0; var failPages = 0
      sample.indices.foreach { i =>
        val p = sample(i)
        val ns = Array.fill(Phases.length)(0L)
        val r = tr.span(s"page$i", "core")(compose(p.html, p.text, ns))
        if (rep == 0) res.check(s"core page $i composed = processPage")(r == ExtractCore.processPage(p.html, p.text))
        if (ns(4) > 0) rulesPages += 1
        if (!r.record.success) failPages += 1
        val total = ns.sum
        if (isHtml(i)) htmlNs += total
        if (isPdf(i)) pdfNs += total
        ns.indices.foreach(j => phaseNs(j) += ns(j))
      }
      (phaseNs, htmlNs, pdfNs, rulesPages, failPages)
    }
    val nHtml = math.max(1, isHtml.count(identity)); val nPdf = math.max(1, isPdf.count(identity))
    val divisors = Seq(nHtml, nHtml, nHtml, nPdf, math.max(1, perRep.head._4), math.max(1, perRep.head._4))
    Phases.indices.foreach { j =>
      res.layer(s"core.${Phases(j)}_us") = (Stats.median(perRep.map(_._1(j) / 1e3 / divisors(j))), "us")
    }
    res.layer("core.html_page_us") = (Stats.median(perRep.map(_._2 / 1e3 / nHtml)), "us")
    res.layer("core.pdf_page_us") = (Stats.median(perRep.map(_._3 / 1e3 / nPdf)), "us")
    res.layer("core.fail_pages") = (perRep.head._5.toDouble, "count")
  }
}
