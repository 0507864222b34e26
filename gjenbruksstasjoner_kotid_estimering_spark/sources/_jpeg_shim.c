/* libjpeg decode shim for sources/jpeg.py, loaded through ctypes.

   jshim_decode(data, size, out, cap, dims, msg) reads the header and
   stores (height, width, channels) in dims. With out == NULL it stops
   there; otherwise out must hold exactly height * width * channels bytes
   and the scanlines are decoded straight into it: BGR, or gray for a
   1-component image, with the ISLOW IDCT that cv2.imdecode runs.

   Returns SHIM_OK, or a class with libjpeg's message in msg (at least
   JMSG_LENGTH_MAX bytes). Every libjpeg warning is fatal except a
   premature end of data that no missing scan bit followed: a stream cut
   at its EOI marker still decodes, as it holds every pixel. */

#include <setjmp.h>
#include <stdio.h>
#include <string.h>

#include <jpeglib.h>
#include <jerror.h>

enum { SHIM_OK, SHIM_TRUNCATED, SHIM_NOT_JPEG, SHIM_CORRUPT };

struct shim_err {
  struct jpeg_error_mgr pub;
  jmp_buf jump;
  volatile int eof; /* the data ran out and libjpeg appended an EOI */
};

static void shim_fail(j_common_ptr cinfo) {
  longjmp(((struct shim_err *)cinfo->err)->jump, 1);
}

static void shim_message(j_common_ptr cinfo, int level) {
  if (level >= 0) /* trace output, not a warning */
    return;
  if (cinfo->err->msg_code == JWRN_JPEG_EOF) {
    ((struct shim_err *)cinfo->err)->eof = 1;
    return;
  }
  shim_fail(cinfo);
}

int jshim_decode(const unsigned char *data, unsigned long size,
                 unsigned char *out, unsigned long cap, int *dims, char *msg) {
  struct jpeg_decompress_struct cinfo;
  struct shim_err err;
  cinfo.err = jpeg_std_error(&err.pub);
  err.pub.error_exit = shim_fail;
  err.pub.emit_message = shim_message;
  err.eof = 0;
  jpeg_create_decompress(&cinfo);
  if (setjmp(err.jump)) {
    int code = err.pub.msg_code;
    err.pub.format_message((j_common_ptr)&cinfo, msg);
    jpeg_destroy_decompress(&cinfo);
    if (code == JERR_NO_SOI || code == JERR_INPUT_EMPTY)
      return SHIM_NOT_JPEG;
    return err.eof || code == JWRN_HIT_MARKER ? SHIM_TRUNCATED : SHIM_CORRUPT;
  }
  jpeg_mem_src(&cinfo, data, size);
  jpeg_read_header(&cinfo, TRUE);
  cinfo.out_color_space =
      cinfo.num_components == 1 ? JCS_GRAYSCALE : JCS_EXT_BGR;
  cinfo.dct_method = JDCT_ISLOW;
  dims[0] = (int)cinfo.image_height;
  dims[1] = (int)cinfo.image_width;
  dims[2] = cinfo.num_components == 1 ? 1 : 3;
  if (out != NULL) {
    unsigned long stride = (unsigned long)dims[1] * dims[2];
    if (cap != stride * dims[0]) {
      strcpy(msg, "output buffer does not fit the image");
      jpeg_destroy_decompress(&cinfo);
      return SHIM_CORRUPT;
    }
    jpeg_start_decompress(&cinfo);
    while (cinfo.output_scanline < cinfo.output_height) {
      JSAMPROW row = out + stride * cinfo.output_scanline;
      jpeg_read_scanlines(&cinfo, &row, 1);
    }
    jpeg_finish_decompress(&cinfo);
  }
  jpeg_destroy_decompress(&cinfo);
  return SHIM_OK;
}
