package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions installer for graft's native Catalyst expressions
  * (the sanctioned extension route — set
  * `spark.sql.extensions=graft.functions.GraftExtensions` on the session;
  * [[graft.Session.local]] does).
  *
  * REQUIRED: every graft operator calls these functions unconditionally —
  * there is no fallback formulation on a vanilla session. Spark analyzes a
  * DataFrame as it is built, so an op run without the extension fails at
  * construction with an unresolved-routine error naming the `graft_*`
  * function. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(
      name: String,
      builder: Seq[Expression] => Expression): (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (
      FunctionIdentifier(name),
      new ExpressionInfo(classOf[JaccardTilePairs].getName, name),
      builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn(TilePairs.JaccardName, { args =>
      require(args.length == 4, s"${TilePairs.JaccardName} expects 4 arguments")
      JaccardTilePairs(args(0), args(1), args(2), args(3))
    }))
    ext.injectFunction(fn(TilePairs.JaccardPfxName, { args =>
      require(args.length == 6, s"${TilePairs.JaccardPfxName} expects 6 arguments")
      JaccardPrefixPairs(args(0), args(1), args(2), args(3), args(4), args(5))
    }))
    ext.injectFunction(fn(TilePairs.HammingName, { args =>
      require(args.length == 4, s"${TilePairs.HammingName} expects 4 arguments")
      HammingTilePairs(args(0), args(1), args(2), args(3))
    }))
    ext.injectFunction(fn(TilePairs.SigEstCanonicalName, { args =>
      require(args.length == 6, s"${TilePairs.SigEstCanonicalName} expects 6 arguments")
      SigEstCanonicalPairs(args(0), args(1), args(2), args(3), args(4), args(5))
    }))
    ext.injectFunction(fn(TilePairs.SigEstName, { args =>
      require(args.length == 4, s"${TilePairs.SigEstName} expects 4 arguments")
      SigEstTilePairs(args(0), args(1), args(2), args(3))
    }))
    ext.injectFunction(fn(TilePairs.DotName, { args =>
      require(args.length == 2, s"${TilePairs.DotName} expects 2 arguments")
      DotProduct(args(0), args(1))
    }))
    ext.injectFunction(fn(TilePairs.ShingleName, { args =>
      require(args.length == 2, s"${TilePairs.ShingleName} expects 2 arguments")
      ShingleHashes(args(0), args(1))
    }))
    ext.injectFunction(fn(TilePairs.MinhashName, { args =>
      require(args.length == 2, s"${TilePairs.MinhashName} expects 2 arguments")
      MinhashSig(args(0), args(1))
    }))
    ext.injectFunction(fn(TilePairs.BitmapName, { args =>
      require(args.length == 3, s"${TilePairs.BitmapName} expects 3 arguments")
      BitmapOfSet(args(0), args(1), args(2))
    }))
    ext.injectFunction(fn(TilePairs.SimhashName, { args =>
      require(args.length == 1, s"${TilePairs.SimhashName} expects 1 argument")
      SimHash64(args(0))
    }))
    ext.injectFunction(fn(TilePairs.IvfCellName, { args =>
      require(args.length == 3, s"${TilePairs.IvfCellName} expects 3 arguments")
      IvfCell(args(0), args(1), args(2))
    }))
    ext.injectFunction(fn(TilePairs.SqDistName, { args =>
      require(args.length == 2, s"${TilePairs.SqDistName} expects 2 arguments")
      SqDist(args(0), args(1))
    }))
    ext.injectFunction(fn(TilePairs.CosineName, { args =>
      require(args.length == 4, s"${TilePairs.CosineName} expects 4 arguments")
      CosineTilePairs(args(0), args(1), args(2), args(3))
    }))
    ext.injectFunction(fn(TilePairs.ShingleStrName, { args =>
      require(args.length == 2, s"${TilePairs.ShingleStrName} expects 2 arguments")
      ShingleStrings(args(0), args(1))
    }))
    ext.injectFunction(fn(TilePairs.RepetitionName, { args =>
      require(args.length == 1, s"${TilePairs.RepetitionName} expects 1 argument")
      RepetitionStats(args(0))
    }))
    ext.injectFunction(fn(TilePairs.GramSumName, { args =>
      require(args.length == 2, s"${TilePairs.GramSumName} expects 2 arguments")
      GramSum(args(0), args(1))
    }))
    ext.injectFunction(fn(TilePairs.VecSumName, { args =>
      require(args.length == 2, s"${TilePairs.VecSumName} expects 2 arguments")
      VecSum(args(0), args(1))
    }))
    ext.injectFunction(fn(TilePairs.NormalizeName, { args =>
      require(args.length == 3, s"${TilePairs.NormalizeName} expects 3 arguments")
      NormalizeText(args(0), args(1), args(2))
    }))
    ext.injectFunction(fn(TilePairs.BloomAggName, { args =>
      require(args.length == 3, s"${TilePairs.BloomAggName} expects 3 arguments")
      BloomBuildAgg(args(0), args(1), args(2))
    }))
    ext.injectFunction(fn(TilePairs.BloomContainsName, { args =>
      require(args.length == 3, s"${TilePairs.BloomContainsName} expects 3 arguments")
      BloomMightContain(args(0), args(1), args(2))
    }))
    ext.injectFunction(fn(TilePairs.TokenNgramName, { args =>
      require(args.length == 2, s"${TilePairs.TokenNgramName} expects 2 arguments")
      TokenNgramHashes(args(0), args(1))
    }))
    ext.injectFunction(fn(TilePairs.BpeName, { args =>
      require(args.length == 2 || args.length == 3,
        s"${TilePairs.BpeName} expects 2 or 3 arguments")
      BpeEncode(args(0), args(1), args.lift(2))
    }))
    ext.injectFunction(fn(TilePairs.SpUnigramName, { args =>
      require(args.length == 3, s"${TilePairs.SpUnigramName} expects 3 arguments")
      SpUnigramEncode(args(0), args(1), args(2))
    }))
    ext.injectFunction(fn(TilePairs.HashEmbedName, { args =>
      require(args.length == 3, s"${TilePairs.HashEmbedName} expects 3 arguments")
      HashEmbedCounts(args(0), args(1), args(2))
    }))
    ext.injectFunction(fn(TilePairs.JpegDimsName, { args =>
      require(args.length == 1, s"${TilePairs.JpegDimsName} expects 1 argument")
      JpegDims(args(0))
    }))
    ext.injectFunction(fn(TilePairs.RiffDurationName, { args =>
      require(args.length == 1, s"${TilePairs.RiffDurationName} expects 1 argument")
      RiffDuration(args(0))
    }))
    ext.injectFunction(fn(TilePairs.Mp4DurationName, { args =>
      require(args.length == 1, s"${TilePairs.Mp4DurationName} expects 1 argument")
      Mp4Duration(args(0))
    }))
    ext.injectFunction(fn(TilePairs.Mp3DurationName, { args =>
      require(args.length == 1, s"${TilePairs.Mp3DurationName} expects 1 argument")
      Mp3Duration(args(0))
    }))
    ext.injectFunction(fn(TilePairs.FlacDurationName, { args =>
      require(args.length == 1, s"${TilePairs.FlacDurationName} expects 1 argument")
      FlacDuration(args(0))
    }))
    ext.injectFunction(fn(TilePairs.OggDurationName, { args =>
      require(args.length == 1, s"${TilePairs.OggDurationName} expects 1 argument")
      OggDuration(args(0))
    }))
    ext.injectFunction(fn(TilePairs.WebmDurationName, { args =>
      require(args.length == 1, s"${TilePairs.WebmDurationName} expects 1 argument")
      WebmDuration(args(0))
    }))
    ext.injectFunction(fn(TilePairs.ExifOrientationName, { args =>
      require(args.length == 1, s"${TilePairs.ExifOrientationName} expects 1 argument")
      ExifOrientation(args(0))
    }))
    ext.injectFunction(fn(TilePairs.ExifGpsName, { args =>
      require(args.length == 1, s"${TilePairs.ExifGpsName} expects 1 argument")
      ExifGps(args(0))
    }))
    ext.injectFunction(fn(TilePairs.ExifGpsStripName, { args =>
      require(args.length == 1, s"${TilePairs.ExifGpsStripName} expects 1 argument")
      ExifGpsStrip(args(0))
    }))
    ext.injectFunction(fn(TilePairs.WebpDimsName, { args =>
      require(args.length == 1, s"${TilePairs.WebpDimsName} expects 1 argument")
      WebpDims(args(0))
    }))
    ext.injectFunction(fn(TilePairs.IsoBmffDimsName, { args =>
      require(args.length == 1, s"${TilePairs.IsoBmffDimsName} expects 1 argument")
      IsoBmffDims(args(0))
    }))
    ext.injectFunction(fn(TilePairs.ExifTagsName, { args =>
      require(args.length == 1, s"${TilePairs.ExifTagsName} expects 1 argument")
      ExifTags(args(0))
    }))
    ext.injectFunction(fn(TilePairs.Mp3TagsName, { args =>
      require(args.length == 1, s"${TilePairs.Mp3TagsName} expects 1 argument")
      Mp3Tags(args(0))
    }))
    ext.injectFunction(fn(TilePairs.RobotsVerdictName, { args =>
      require(args.length == 2, s"${TilePairs.RobotsVerdictName} expects 2 arguments")
      RobotsVerdict(args(0), args(1))
    }))
    ext.injectFunction(fn(TilePairs.PdfTextName, { args =>
      require(args.length == 1, s"${TilePairs.PdfTextName} expects 1 argument")
      PdfText(args(0))
    }))
    ext.injectFunction(fn(TilePairs.PdfInfoName, { args =>
      require(args.length == 1, s"${TilePairs.PdfInfoName} expects 1 argument")
      PdfInfo(args(0))
    }))
  }
}
