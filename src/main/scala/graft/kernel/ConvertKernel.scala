package graft.kernel

import graft.ingest.{FormatDetection, Transcode, UploadValidation}

/** The conversion kernel (SURVEY.md O8-O16): the reference's
  * DoclingDocumentConversion.convert / convert_batch
  * (document_converter/service.py:133-188), Spark-first.
  *
  * [[convertOne]] converts one document. Over files it runs inside the
  * `docling` scan's partition readers (graft.sources.ConvertDataSource) —
  * the parser registry is a per-executor lazy singleton (replacing the
  * reference's per-build model preload, Dockerfile:45-51), NEVER a per-row
  * udf. Where the reference's `convert_all` loops documents sequentially in
  * one worker (service.py:171-186), partitions here convert in parallel —
  * a strict improvement with identical per-row semantics. One deliberate
  * deviation: CSV charset transcode runs in batch mode too (the reference
  * only calls handle_csv_file on the single path, service.py:145-150, so
  * its batch path would feed raw cp1252 bytes to the parser) — documented
  * as an improvement, like the stem/full-filename asymmetry below.
  *
  * Error handling is error-as-column: a failed parse is a result row with
  * `error` set (service.py:153-155, :180-183), executors never throw on
  * data errors.
  */
object ConvertKernel {

  final case class ImageData(`type`: String, filename: String, image: String)

  final case class ConversionResult(
      filename: String,
      markdown: String,
      images: Seq[ImageData],
      error: String)

  /** Immutable per-request options (reference `_build_pipeline_options`,
    * service.py:57-61 — the deep-copy isolation the reference regression-
    * tests is impossible-by-construction here). Scale clamp [1,4] mirrors
    * route.py:46-51. `outputFormat` selects the serializer for the result's
    * content column — the reference declares the same enum (md, json, text,
    * doctags; utils.py:20-24) but wires only markdown; markdown stays the
    * default here for wire parity. Anchor splicing of image filenames only
    * rewrites markdown output (the anchors are markdown constructs); other
    * formats still carry the full images array with identical counters. */
  final case class ConversionConfig(
      extractTablesAsImages: Boolean = false,
      imageResolutionScale: Int = 4,
      outputFormat: String = "md",
      ocrEngine: Option[String] = None) {
    require(imageResolutionScale >= 1 && imageResolutionScale <= 4,
      "image_resolution_scale must be in [1,4]")
    require(OutputSerializers.byFormat.contains(outputFormat),
      s"output_format must be one of ${OutputSerializers.byFormat.keys.toSeq.sorted.mkString(", ")}")
    require(ocrEngine.forall(OcrEngines.isValid),
      s"ocr_engine must be one of ${OcrEngines.known.toSeq.sorted.mkString(", ")} or provider:<class>")
    /** The reference's per-request copy-with-overrides, as a pure copy. */
    def withOverrides(extractTables: Boolean, scale: Int): ConversionConfig =
      copy(extractTablesAsImages = extractTables, imageResolutionScale = scale)
  }

  /** What converting a FILE needs besides its bytes: the request config,
    * the upload size cap, and batch (full filename) or single (stem)
    * error naming. `toOptions`/`fromOptions` are its string form — the
    * `docling` source's reader options — so every file→kernel caller
    * passes its settings through one parser. */
  final case class FileOptions(
      config: ConversionConfig = ConversionConfig(),
      maxFileMb: Int = UploadValidation.DefaultMaxFileMb,
      batchMode: Boolean = true) {
    def toOptions: Map[String, String] =
      Map("extractTablesAsImages" -> config.extractTablesAsImages.toString,
        "imageResolutionScale" -> config.imageResolutionScale.toString,
        "outputFormat" -> config.outputFormat,
        "maxFileMb" -> maxFileMb.toString,
        "batchMode" -> batchMode.toString) ++
        config.ocrEngine.map("ocrEngine" -> _)
  }

  object FileOptions {
    /** Inverse of [[FileOptions.toOptions]]; keys match case-insensitively
      * (Spark lower-cases data source options) and absent keys take the
      * defaults. Invalid values throw here, at planning time. */
    def fromOptions(options: Map[String, String]): FileOptions = {
      val o = options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
      val d = FileOptions()
      FileOptions(
        ConversionConfig(
          extractTablesAsImages = o.get("extracttablesasimages").fold(
            d.config.extractTablesAsImages)(_.toBoolean),
          imageResolutionScale = o.get("imageresolutionscale").fold(
            d.config.imageResolutionScale)(_.toInt),
          outputFormat = o.getOrElse("outputformat", d.config.outputFormat),
          ocrEngine = o.get("ocrengine")),
        maxFileMb = o.get("maxfilemb").fold(d.maxFileMb)(_.toInt),
        batchMode = o.get("batchmode").fold(d.batchMode)(_.toBoolean))
    }
  }

  /** Pluggable OCR engine — the lane consumer's CONTRACT (VERDICT r12
    * #6). The kernel carries no ML by design; a real engine (Tesseract,
    * Docling's EasyOCR stack — reference service.py:63-70) plugs in by
    * registering a name in [[OcrEngines]], and the lane's PLUMBING —
    * triage routing (k9), the needs_ocr partition layout, the re-entry
    * path below — never changes. `recognize` sees the document's
    * original bytes and returns the recovered text, or None when it
    * cannot help (the honest error row stands). Engines travel BY NAME
    * inside [[ConversionConfig]] (configs are data; engine instances
    * are per-JVM, resolved on the executor like [[ParserPool]]). */
  trait OcrEngine extends Serializable {
    def recognize(filename: String, content: Array[Byte]): Option[String]
  }

  object OcrEngines {
    /** The deterministic test double: "recognizes" one paragraph per
      * image-only page from the page STRUCTURE alone (the k9 triage
      * walk), so its output is a pure function of the document —
      * replayable by the DuckDB oracle from fixture arithmetic. A real
      * engine decodes the page images; the double exists to pin the
      * plumbing (routing, partition round-trip, re-entry, config
      * isolation) without fabricating ML output. */
    val Deterministic = "deterministic"
    val known: Set[String] = Set(Deterministic)

    /** `provider:<fqcn>` loads a REAL engine by reflection — a class
      * with a no-arg constructor implementing [[OcrEngine]] dropped
      * onto the runtime classpath (a tess4j/Tesseract adapter jar, a
      * Docling-style EasyOCR bridge). This keeps the kernel's
      * zero-ML-dependency default (nothing resolves at build time; the
      * name is data inside ConversionConfig, resolved lazily on the
      * executor) while converting the last reference-surface gap from
      * "model absent" to "model optional" (VERDICT r13 ask #8). The
      * resolved instance is memoized per JVM like [[ParserPool]] —
      * real engines front model state that must load once per
      * executor, not once per row. */
    val ProviderPrefix = "provider:"

    def isValid(name: String): Boolean =
      known.contains(name) ||
        (name.startsWith(ProviderPrefix) &&
          name.length > ProviderPrefix.length)

    private val providers =
      new java.util.concurrent.ConcurrentHashMap[String, OcrEngine]()

    def byName(name: String): OcrEngine = name match {
      case Deterministic => DeterministicOcr
      case p if p.startsWith(ProviderPrefix) =>
        providers.computeIfAbsent(p, { key =>
          val cls = key.stripPrefix(ProviderPrefix)
          val inst =
            try Class.forName(cls).getDeclaredConstructor().newInstance()
            catch {
              case e: ReflectiveOperationException =>
                throw new IllegalArgumentException(
                  s"OCR provider $cls could not be instantiated " +
                    s"(needs a public no-arg constructor on the " +
                    s"executor classpath): ${e.getMessage}", e)
            }
          inst match {
            case engine: OcrEngine => engine
            case other => throw new IllegalArgumentException(
              s"OCR provider $cls does not implement OcrEngine " +
                s"(got ${other.getClass.getName})")
          }
        })
      case other =>
        throw new IllegalArgumentException(s"unknown OCR engine: $other")
    }
  }

  private object DeterministicOcr extends OcrEngine {
    def recognize(filename: String, content: Array[Byte]): Option[String] =
      PdfParser.ocrTriage(content).toOption.collect {
        case t if t.imageOnlyPages > 0 =>
          (1 to t.imageOnlyPages)
            .map(p => s"Recovered page $p of ${t.imageOnlyPages}.")
            .mkString("\n\n")
      }
  }

  /** Per-executor parser registry: initialized once per JVM on first
    * partition touch (lazy val), shared across tasks — the analog of the
    * reference's preloaded model cache. */
  object ParserPool {
    lazy val parsers: Map[String, FormatParser] = Parsers.byFormat
  }

  /** filename stem, reference's `conv_res.input.file.stem`. */
  private[kernel] def stem(filename: String): String = {
    val base = filename.split("/").last
    val dot = base.lastIndexOf('.')
    if (dot > 0) base.substring(0, dot) else base
  }

  /** Public stem accessor for composed pipelines (same semantics). */
  def stemOf(filename: String): String = stem(filename)

  /** Convert one document. `batchMode` reproduces the reference's (sic)
    * asymmetry: parse errors report the full filename in batch mode
    * (service.py:182) but the stem in single mode (service.py:155). */
  def convertOne(filename: String, content: Array[Byte],
                 config: ConversionConfig = ConversionConfig(),
                 batchMode: Boolean = false): ConversionResult = {
    val errorName = if (batchMode) filename else stem(filename)
    try {
      FormatDetection.guessFormat(content, filename) match {
        case None =>
          ConversionResult(errorName, null, Seq.empty,
            s"Unsupported file format: $filename")
        case Some(format) =>
          var bytes = content
          if (FormatDetection.isCsvFile(filename)) {
            val t = Transcode.transcodeCsv(content)
            t.error match {
              case Some(err) =>
                // transcode failure reports the full filename (service.py:146-148)
                return ConversionResult(filename, null, Seq.empty, err)
              case None => bytes = t.utf8Bytes
            }
          }
          // Attach rendered images per request config, mirroring the
          // reference's pipeline options: pictures always
          // (generate_picture_images=True, service.py:67), tables only
          // when extract_tables_as_images (service.py:61), dimensions
          // scaled by images_scale (service.py:60). Pictures whose
          // container carried real embedded bytes (word/media/…,
          // ppt/media/…) ship the document's actual pixels, scaled and
          // re-encoded PNG (service.py:106-128); only undecodable or
          // absent media falls back to the placeholder render.
          def finish(tree: DocModel.DocTree): ConversionResult = {
            val items = tree.items.map {
              case p: DocModel.PictureElement if p.imagePng.isEmpty =>
                val png = p.rawMedia
                  .flatMap(ImageRenderer.renderEmbedded(_, config.imageResolutionScale))
                  .getOrElse(ImageRenderer.renderPicture(config.imageResolutionScale))
                p.copy(imagePng = Some(png))
              case t: DocModel.TableElement if config.extractTablesAsImages && t.imagePng.isEmpty =>
                t.copy(imagePng = Some(ImageRenderer.renderTable(
                  t.numRows, t.numCols, config.imageResolutionScale)))
              case e => e
            }
            val rendered = OutputSerializers.byFormat(config.outputFormat)
              .serialize(DocModel.DocTree(tree.name, items))
            // splice rewrites markdown anchors only; in other formats the
            // anchors never match, so content passes through and the
            // images array still accumulates with the same counters
            val (content_out, images) = ImageSplicer.splice(rendered, items)
            ConversionResult(stem(filename), content_out,
              images.map(i => ImageData(i.imageType, i.filename, i.base64Png)), null)
          }
          ParserPool.parsers(format).parse(filename, bytes) match {
            case Left(err) =>
              // OCR re-entry (VERDICT r12 #6): when a configured engine
              // supplies text for a document whose parse failed for LACK
              // of text, the recovered text re-enters the normal
              // conversion as a plain-text document — same serializers,
              // same output formats, same splice — so a real OCR engine
              // changes only the text source, never the plan. Any other
              // parse failure, or an engine returning None, keeps the
              // honest error row.
              val recovered =
                if (err.contains("OCR"))
                  config.ocrEngine.map(OcrEngines.byName)
                    .flatMap(_.recognize(filename, content))
                else None
              recovered match {
                case Some(text) =>
                  ParserPool.parsers("md")
                    .parse(filename,
                      text.getBytes(java.nio.charset.StandardCharsets.UTF_8)) match {
                    case Right(tree) => finish(tree)
                    case Left(e2) =>
                      ConversionResult(errorName, null, Seq.empty, e2)
                  }
                case None => ConversionResult(errorName, null, Seq.empty, err)
              }
            case Right(tree) => finish(tree)
          }
      }
    } catch {
      case e: Exception =>
        ConversionResult(errorName, null, Seq.empty,
          s"Conversion failed: ${e.getMessage}")
    }
  }
}
